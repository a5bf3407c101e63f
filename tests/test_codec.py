"""Posting codec round-trips: varint, FOR bit-packing, skip pointers,
block-max bounds — incl. property-based cases (hypothesis)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from baram_spark.index.codec import (
    BLOCK,
    CODEC_FOR,
    CODEC_PFOR,
    CODEC_VARINT,
    bm25_tf_norm,
    decode_block,
    decode_blockmax,
    decode_postings,
    decode_skips,
    encode_postings,
    for_decode,
    for_encode,
    pfor_decode,
    pfor_encode,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    buf, lens = varint_encode(np.array([0, 1, 127, 128, 300, 16384], dtype=np.uint64))
    assert list(lens) == [1, 1, 1, 2, 2, 3]
    assert list(varint_decode(buf)) == [0, 1, 127, 128, 300, 16384]


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf, _ = varint_encode(arr)
    assert np.array_equal(varint_decode(buf), arr)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=200))
@settings(max_examples=50, deadline=None)
def test_for_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    out, used = for_decode(for_encode(arr))
    assert np.array_equal(out, arr)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=256))
@settings(max_examples=80, deadline=None)
def test_pfor_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf = pfor_encode(arr)
    out, used = pfor_decode(b"zz" + buf, 2)  # offset + trailing-safety
    assert used == len(buf)
    assert np.array_equal(out, arr)


def test_pfor_patches_outliers_cheaper_than_for():
    """The PForDelta exception path: a few enormous gaps must not inflate
    the whole section's width (the Zipf posting-gap shape)."""
    rng = np.random.default_rng(5)
    gaps = np.concatenate(
        [rng.integers(1, 40, 120), rng.integers(2**30, 2**40, 8)]
    ).astype(np.uint64)
    assert len(pfor_encode(gaps)) < len(for_encode(gaps)) / 3
    # uniform small sections carry only the 7-byte header overhead vs FOR
    uni = rng.integers(0, 31, 128).astype(np.uint64)
    assert len(pfor_encode(uni)) <= len(for_encode(uni)) + 2


@pytest.mark.parametrize("codec", [CODEC_VARINT, CODEC_FOR, CODEC_PFOR])
@pytest.mark.parametrize("n", [1, 2, BLOCK - 1, BLOCK, BLOCK + 1, 1000])
def test_postings_roundtrip(codec, n):
    rng = np.random.default_rng(n)
    ids = np.sort(rng.choice(50_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 40, size=n).astype(np.int64)
    dls = rng.integers(10, 800, size=n).astype(np.int64)
    blob, skips, bmax = encode_postings(ids, tfs, dls, avgdl=150.0, codec=codec)
    di, dt, dd = decode_postings(blob, skips)
    assert np.array_equal(di, ids)
    assert np.array_equal(dt, tfs)
    assert np.array_equal(dd, dls)


def test_skip_pointers_single_block_seek():
    """The block-packed codecs seek straight to one block; varint lists
    decode whole, so decode_block refuses them."""
    rng = np.random.default_rng(9)
    n = 1000
    ids = np.sort(rng.choice(10_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 5, size=n).astype(np.int64)
    dls = rng.integers(10, 100, size=n).astype(np.int64)
    lo, hi = 3 * BLOCK, 4 * BLOCK
    for codec in (CODEC_FOR, CODEC_PFOR):
        blob, skips, _ = encode_postings(ids, tfs, dls, avgdl=50.0,
                                         codec=codec)
        last_ids, offsets, counts = decode_skips(skips)
        # seek straight to block 3 without touching blocks 0-2
        bi, bt, bd, _ = decode_block(blob, int(offsets[3]), int(last_ids[2]))
        assert np.array_equal(bi, ids[lo:hi])
        assert np.array_equal(bt, tfs[lo:hi])
        assert np.array_equal(bd, dls[lo:hi])
    blob, skips, _ = encode_postings(ids, tfs, dls, avgdl=50.0)
    with pytest.raises(ValueError, match="FOR/PFOR"):
        decode_block(blob, int(decode_skips(skips)[1][3]), 0)


def test_blockmax_is_upper_bound():
    rng = np.random.default_rng(11)
    n = 700
    ids = np.sort(rng.choice(1_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 30, size=n).astype(np.int64)
    dls = rng.integers(5, 500, size=n).astype(np.int64)
    _, _, bmax_blob = encode_postings(ids, tfs, dls, avgdl=100.0)
    bmax = decode_blockmax(bmax_blob)
    tfn = bm25_tf_norm(tfs, dls, 100.0)
    for b in range(bmax.size):
        seg = tfn[b * BLOCK : (b + 1) * BLOCK]
        assert bmax[b] == seg.max()  # exact float64 max, not an approximation


def test_compression_beats_raw():
    rng = np.random.default_rng(5)
    n = 50_000
    ids = np.sort(rng.choice(5_000_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 4, size=n).astype(np.int64)
    dls = rng.integers(50, 200, size=n).astype(np.int64)
    for codec in (CODEC_VARINT, CODEC_FOR):
        blob, _, _ = encode_postings(ids, tfs, dls, avgdl=100.0, codec=codec)
        assert len(blob) < n * 24 / 4  # ≥4× smaller than raw int64 triplets


def test_decode_many_chunked_cumsum_no_overflow():
    """decode_many's segmented cumsum is chunked along the blob axis: a
    batch of >4096 blobs carrying huge hash-range doc_ids (~2^50 each)
    would overflow a single global int64 cumsum; chunking must keep every
    doc_id exact, including across chunk boundaries."""
    from baram_spark.index.codec import decode_many, encode_postings

    big_base = 10_000_000_000_000 + (1 << 48)  # hash-fallback id range
    n_blobs = 20_000  # Σ last_doc_id ≈ 1.1e19 > int64 max:
    # a single global cumsum (the old code) wraps negative here
    blobs, skips, expected = [], [], []
    for i in range(n_blobs):
        ids = np.array([big_base + 7 * i, big_base + 7 * i + 3],
                       dtype=np.int64)
        tfs = np.array([1, 2], dtype=np.int64)
        dls = np.array([10, 20], dtype=np.int64)
        blob, skip, _ = encode_postings(ids, tfs, dls, avgdl=10.0)
        blobs.append(blob)
        skips.append(skip)
        expected.append(ids)
    doc_ids, tfs_o, dls_o, dfs = decode_many(blobs, skips)
    assert (dfs == 2).all()
    got = doc_ids.reshape(n_blobs, 2)
    exp = np.stack(expected)
    assert (got == exp).all()
    assert (doc_ids > 0).all()  # a wrapped cumsum would go negative


def test_decode_many_zero_df_blob_at_chunk_boundary():
    """A zero-df blob (hand-built / corrupt input — encode always emits
    df>=1) must not crash the chunked segmented cumsum, including when it
    sits exactly at a chunk boundary (index c0+CHUNK-1) or trails the
    batch, and when an entire chunk is zero-df."""
    from baram_spark.index.codec import (
        CODEC_VARINT,
        decode_many,
        encode_postings,
    )

    def zero_blob():
        return (bytes([CODEC_VARINT]),
                np.array([0], dtype=np.int64).tobytes())

    def normal_blob(i):
        ids = np.array([5 * i + 1, 5 * i + 3], dtype=np.int64)
        blob, skip, _ = encode_postings(
            ids, np.array([1, 2], dtype=np.int64),
            np.array([10, 20], dtype=np.int64), avgdl=10.0)
        return blob, skip, ids

    CHUNK = 4096
    n_blobs = CHUNK + 8
    blobs, skips, expected = [], [], []
    zero_at = {CHUNK - 1, CHUNK, n_blobs - 1}  # boundary, start, trailing
    for i in range(n_blobs):
        if i in zero_at:
            b, s = zero_blob()
            blobs.append(b)
            skips.append(s)
        else:
            b, s, ids = normal_blob(i)
            blobs.append(b)
            skips.append(s)
            expected.append(ids)
    doc_ids, tfs, dls, dfs = decode_many(blobs, skips)
    assert dfs.sum() == 2 * (n_blobs - len(zero_at))
    assert [int(dfs[i]) for i in sorted(zero_at)] == [0, 0, 0]
    assert (doc_ids == np.concatenate(expected)).all()

    # an ENTIRE chunk of zero-df blobs (hi == lo) must be skipped cleanly
    blobs2, skips2 = [], []
    for _ in range(CHUNK):
        b, s = zero_blob()
        blobs2.append(b)
        skips2.append(s)
    b, s, ids = normal_blob(0)
    blobs2.append(b)
    skips2.append(s)
    doc_ids2, _, _, dfs2 = decode_many(blobs2, skips2)
    assert dfs2[:CHUNK].sum() == 0 and int(dfs2[-1]) == 2
    assert (doc_ids2 == ids).all()


def test_encode_empty_postings_and_empty_groups():
    """Zero postings encode to the zero-block triple every decode path
    (and the WAND zero-block pin) understands — empty groups anywhere in
    an encode_many batch, including trailing ones, must not corrupt
    neighbouring groups' delta chains."""
    from baram_spark.index.codec import (
        decode_many,
        encode_many,
        encode_postings,
    )

    b, s, m = encode_postings(np.zeros(0, np.int64), np.zeros(0, np.int64),
                              np.zeros(0, np.int64), avgdl=10.0)
    _, _, _, dfs = decode_many([b], [s])
    assert dfs.tolist() == [0] and m == b""

    ids = np.array([1, 5, 9, 20], dtype=np.int64)
    tfs = np.array([1, 2, 1, 3], dtype=np.int64)
    dls = np.array([10, 12, 8, 9], dtype=np.int64)
    starts = np.array([0, 0, 2, 4, 4], dtype=np.int64)
    ends = np.array([0, 2, 4, 4, 4], dtype=np.int64)
    blobs, skips, bmax = encode_many(ids, tfs, dls, starts, ends,
                                     np.full(4, 10.0))
    d, _, _, dfs = decode_many(blobs, skips)
    assert dfs.tolist() == [0, 2, 2, 0, 0]
    assert d.tolist() == [1, 5, 9, 20]  # trailing empties corrupt nothing
    b2, s2, m2 = encode_postings(ids[2:], tfs[2:], dls[2:], avgdl=10.0)
    assert (blobs[2], skips[2], bmax[2]) == (b2, s2, m2)

    blobs0, skips0, _ = encode_many(
        np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.int64),
        np.array([0, 0]), np.array([0, 0]), np.zeros(0))
    _, _, _, dfs0 = decode_many(blobs0, skips0)
    assert dfs0.tolist() == [0, 0]


def test_varint_decode_rejects_truncated_stream():
    with pytest.raises(ValueError):
        varint_decode(bytes([0x05, 0x80]))


# --- whole-generation decode (the serving node's resident layout) ----------

def _gen_columns(triples):
    import pyarrow as pa

    return [pa.array([t[i] for t in triples], pa.binary()) for i in range(3)]


def _assert_matches_per_list(cols, triples):
    """decode_generation == decode_postings + decode_skips +
    decode_blockmax, list by list."""
    assert cols.offsets.size == cols.block_offsets.size == len(triples) + 1
    assert cols.tfs.dtype == cols.dls.dtype == np.int32
    assert cols.ids.dtype == np.int64
    for i, (blob, skips, bmax) in enumerate(triples):
        ids, tfs, dls, last, end, bm = cols.list_arrays(i)
        e_ids, e_tfs, e_dls = decode_postings(blob, skips)
        e_last, _, e_counts = decode_skips(skips)
        assert np.array_equal(ids, e_ids), i
        assert np.array_equal(tfs, e_tfs) and np.array_equal(dls, e_dls), i
        assert np.array_equal(last, e_last), i
        assert np.array_equal(end, np.cumsum(e_counts)), i
        assert np.array_equal(bm, decode_blockmax(bmax)), i


def _triples(rng, codecs, sizes, base=0):
    out = []
    for codec, n in zip(codecs, sizes):
        ids = (np.sort(rng.choice(10**7, size=n, replace=False))
               .astype(np.int64) + base)
        tfs = rng.integers(1, 40, size=n).astype(np.int64)
        dls = rng.integers(5, 800, size=n).astype(np.int64)
        out.append(encode_postings(ids, tfs, dls, avgdl=90.0, codec=codec))
    return out


ZERO_BLOCK = (bytes([CODEC_VARINT]), np.array([0], np.int64).tobytes(), b"")


@pytest.mark.parametrize("codec", [CODEC_VARINT, CODEC_FOR, CODEC_PFOR,
                                   "mixed"])
def test_decode_generation_matches_per_list_decode(codec):
    from baram_spark.index.codec import decode_generation, decode_many

    rng = np.random.default_rng(21)
    sizes = [1, 2, BLOCK - 1, BLOCK, BLOCK + 1, 1000, 3, 700]
    codecs = ([CODEC_VARINT, CODEC_FOR, CODEC_PFOR] * 3 if codec == "mixed"
              else [codec] * len(sizes))
    triples = _triples(rng, codecs, sizes)
    # a zero-block list (every doc of the term compacted away) in the middle
    triples.insert(3, ZERO_BLOCK)
    cols = decode_generation(*_gen_columns(triples))
    _assert_matches_per_list(cols, triples)
    # decode_many reads the same lists, from bytes and from Arrow columns
    blobs, skips = [t[0] for t in triples], [t[1] for t in triples]
    for args in ((blobs, skips), _gen_columns(triples)[:2]):
        ids, tfs, dls, dfs = decode_many(*args)
        assert np.array_equal(dfs, np.diff(cols.offsets))
        assert np.array_equal(ids, cols.ids)
        assert np.array_equal(tfs, cols.tfs) and np.array_equal(dls, cols.dls)


def test_decode_generation_empty_generation():
    from baram_spark.index.codec import decode_generation

    cols = decode_generation(*_gen_columns([]))
    assert cols.offsets.tolist() == [0] and cols.block_offsets.tolist() == [0]
    assert cols.ids.size == cols.block_last.size == cols.block_max.size == 0
    only_empty = [ZERO_BLOCK, ZERO_BLOCK]
    _assert_matches_per_list(decode_generation(*_gen_columns(only_empty)),
                             only_empty)


def test_decode_generation_hash_range_ids_past_int64_wrap():
    """More than 4096 lists — 20,000 — of doc ids at the top of the
    hash-fallback range (10^13 + 2^49), whose last ids sum past 2^63:
    every id stays exact across the segmented cumsum's chunks."""
    from baram_spark.index.codec import decode_generation, encode_many

    rng = np.random.default_rng(5)
    n_lists = 20_000
    top = 10_000_000_000_000 + (1 << 49)
    sizes = rng.integers(1, 4, size=n_lists)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    ids = np.concatenate([np.sort(rng.choice(10**6, size=n, replace=False))
                          for n in sizes]).astype(np.int64) + top - 10**6
    n = ids.size
    blobs, skips, bmax = encode_many(
        ids, rng.integers(1, 9, n), rng.integers(5, 300, n), starts, ends,
        np.full(n, 50.0))
    assert int(ends.size) * (top - 10**6) > 2**63
    triples = list(zip(blobs, skips, bmax))
    cols = decode_generation(*_gen_columns(triples))
    assert np.array_equal(cols.ids, ids)
    _assert_matches_per_list(cols, triples)


def test_decode_generation_chunked_columns_with_offsets():
    """Multi-chunk columns whose chunks are slices (non-zero array
    offsets), chunked differently per column, decode like the rows they
    hold."""
    import pyarrow as pa

    from baram_spark.index.codec import decode_generation

    rng = np.random.default_rng(8)
    sizes = rng.integers(1, 400, size=120)
    triples = _triples(rng, [CODEC_VARINT, CODEC_VARINT, CODEC_PFOR] * 40,
                       sizes)
    triples[60] = ZERO_BLOCK
    post, skips, bmax = _gen_columns(triples)
    rows = list(range(3, 43)) + list(range(50, 120))
    post_c = pa.chunked_array([post.slice(3, 40), post.slice(50, 30),
                               post.slice(80, 40)])
    skips_c = pa.chunked_array([skips.slice(3, 40), skips.slice(50, 70)])
    bmax_c = pa.chunked_array([pa.concat_arrays([bmax.slice(3, 40),
                                                 bmax.slice(50, 70)])])
    _assert_matches_per_list(decode_generation(post_c, skips_c, bmax_c),
                             [triples[i] for i in rows])
    # a single sliced chunk keeps its offset (combine_chunks returns it)
    _assert_matches_per_list(
        decode_generation(post.slice(7, 9), skips.slice(7, 9),
                          bmax.slice(7, 9)),
        triples[7:16])
