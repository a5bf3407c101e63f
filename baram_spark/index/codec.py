"""Posting-list codec: docID delta + varint / bit-packed FOR, skip pointers,
per-block max-score metadata.

The reference delegates the physical index to Lucene via OpenSearch; this is
the from-scratch PySpark-native replacement specified by the north_star:
per-term posting lists compressed as docID deltas (LEB128 varint;
frame-of-reference bit packing — exception-free, cheap when deltas within a
128-block are near-uniform; or PForDelta proper, CODEC_PFOR, whose patched
exceptions keep one huge gap from inflating the whole block's width), skip
pointers every ``BLOCK`` postings, and a per-block score upper bound
(max of ``tf / (tf + k1*(1-b+b*dl/avgdl))``) enabling Block-Max WAND.

Everything is numpy-vectorized — no per-posting Python loops; the only
Python-level loop is over 128-entry blocks during final blob assembly.

A serving node does not keep the blobs: ``decode_generation`` turns a whole
generation's blob columns into :class:`PostingsColumns`, flat CSR arrays a
query gathers from (16 B per posting plus 24 B per block).

Blob formats (all little-endian):

``postings_blob``:
    [codec_id: u8] then per block:
      varint(count) + encoded docid deltas + encoded tfs + encoded dls
    (dl = analyzed field length of the doc — stored per posting, like
    Lucene norms, so a shard scores BM25 self-contained with no doc-stats
    join at query time)
    For codec VARINT deltas/tfs are LEB128 varints; for codec FOR each
    section is [width: u8][packed bits] frame-of-reference packed.
    First delta of block b is relative to last docID of block b-1
    (relative to -1 for block 0, i.e. stored as docid+1... see encode).

``skips_blob``:  int64 array: [n_blocks, last_docid_0.., offset_0..,
                 count_0..] (offset = byte offset of block start in
                 postings_blob, enabling O(1) block seek).

``blockmax_blob``: float64 array, one score bound per block.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa

BLOCK = 128
CODEC_VARINT = 0
CODEC_FOR = 1
CODEC_PFOR = 2


# --- vectorized LEB128 varint ----------------------------------------------

def varint_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode uint64 array as concatenated LEB128 varints.

    Returns (buffer, per-value byte lengths) — lengths let callers slice the
    stream at value boundaries without re-scanning.
    """
    v = values.astype(np.uint64, copy=True)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # byte length = ceil(bit_length / 7), min 1
    bits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nonzero = tmp != 0
        if not nonzero.any():
            break
        bits[nonzero] += 1
        tmp >>= np.uint64(7)
    lengths = np.maximum(bits, 1)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # fill byte position k for every value with length > k
    shifted = v.copy()
    max_len = int(lengths.max())
    for k in range(max_len):
        mask = lengths > k
        pos = offsets[:-1][mask] + k
        byte = (shifted[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (lengths[mask] > k + 1).astype(np.uint8) << 7
        out[pos] = byte | cont
        shifted[mask] >>= np.uint64(7)
    return out.tobytes(), lengths


def varint_decode(buf: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Decode a concatenated LEB128 stream to uint64 (fully vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    if raw.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero(raw < 0x80)  # terminator byte of every value
    if ends.size == 0 or ends[-1] != raw.size - 1:
        raise ValueError("varint stream ends inside a value")
    if ends.size == raw.size:  # every value is one byte
        out = raw.astype(np.uint64)
    else:
        starts = np.empty_like(ends)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        # shift of each byte = 7 × its position within its varint
        shift = np.arange(raw.size, dtype=np.int64)
        shift -= np.repeat(starts, ends - starts + 1)
        vals = (raw & 0x7F).astype(np.uint64)
        vals <<= (7 * shift).astype(np.uint64)
        out = np.add.reduceat(vals, starts)  # disjoint bit fields: exact
    if count is not None:
        out = out[:count]
    return out


# --- frame-of-reference bit packing (PForDelta-style, exception-free) ------

# thresholds for vectorized bit_length: bl(v) = searchsorted(right)
_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)
# exception-cost matrix for pfor width choice: LEB128 bytes of the high
# part of a bl-bit value patched at width w (0 where bl <= w)
_PFOR_EXC = np.maximum(
    (np.arange(65)[None, :] - np.arange(65)[:, None] + 6) // 7, 0
)


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Per-value bit length of a uint64 array (min 1), no Python loop."""
    return np.maximum(np.searchsorted(_POW2, v, side="right"), 1)


def _pack_bits(v: np.ndarray, width: int) -> bytes:
    """Expand each value into `width` bits (LSB first), then packbits —
    THE one copy of the packed-section layout (FOR and PFOR share it)."""
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def _unpack_bits(buf, n: int, width: int, offset: int) -> np.ndarray:
    """Inverse of _pack_bits over ``buf[offset:]``."""
    nbytes = (n * width + 7) // 8
    packed = np.frombuffer(buf, dtype=np.uint8, count=nbytes, offset=offset)
    bits = np.unpackbits(packed, bitorder="little")[: n * width]
    shifts = np.arange(width, dtype=np.uint64)
    return (bits.reshape(n, width).astype(np.uint64) << shifts[None, :]).sum(
        axis=1, dtype=np.uint64
    )


def for_encode(values: np.ndarray) -> bytes:
    """[width:u8][n:u32][packed bits] — fixed-width pack of a uint64 array."""
    v = values.astype(np.uint64)
    n = v.size
    width = 1 if n == 0 else max(1, int(v.max()).bit_length())
    header = bytes([width]) + np.uint32(n).tobytes()
    if n == 0:
        return header
    return header + _pack_bits(v, width)


def for_decode(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Inverse of for_encode; returns (values, bytes consumed incl. header)."""
    width = buf[offset]
    n = int(np.frombuffer(buf, dtype=np.uint32, count=1, offset=offset + 1)[0])
    nbytes = (n * width + 7) // 8
    if n == 0:
        return np.zeros(0, dtype=np.uint64), 5
    return _unpack_bits(buf, n, width, offset + 5), 5 + nbytes


# --- patched frame-of-reference (PForDelta WITH exceptions) -----------------

def pfor_encode(values: np.ndarray) -> bytes:
    """[width:u8][n:u32][n_exc:u16][packed low bits][exc pos:u8..][exc high:varints]

    Classic PForDelta: the base width ``w`` covers the common case and
    outliers are PATCHED — their low ``w`` bits ride the packed section,
    positions and the shifted-out high bits ride an exception list. The
    width is chosen by exact cost (packed bytes + per-exception position
    byte + LEB128 bytes of each high part, minimized over all candidate
    widths via the bit-length histogram), so a single huge delta no longer
    inflates every value's width the way exception-free FOR does — the
    docID-gap distribution of a Zipf posting list is exactly that shape
    (many small gaps, a few enormous ones). Positions are u8, so callers
    keep sections at <= 256 values (posting blocks are BLOCK=128).
    """
    v = values.astype(np.uint64)
    n = v.size
    if n == 0:
        return bytes([1]) + np.uint32(0).tobytes() + np.uint16(0).tobytes()
    if n > 256:
        raise ValueError("pfor section exceeds 256 values (u8 positions)")
    # bit length per value (>=1 so zeros pack into width-1 sections);
    # exact cost per candidate width from the bit-length HISTOGRAM —
    # O(n + 64^2), constant numpy-dispatch count (this runs ~3x per
    # 128-block on the index-build hot path)
    bl = _bit_lengths(v)
    max_w = int(bl.max())
    cnt = np.bincount(bl, minlength=65).astype(np.int64)
    widths = np.arange(1, max_w + 1)
    n_exc_per_w = (cnt[None, 1:] * (np.arange(1, 65)[None, :]
                                    > widths[:, None])).sum(axis=1)
    exc_leb = (cnt[None, 1:65] * _PFOR_EXC[1:max_w + 1, 1:65]).sum(axis=1)
    costs = (n * widths + 7) // 8 + n_exc_per_w + exc_leb
    w = 1 + int(np.argmin(costs))
    exc_mask = bl > w
    n_e = int(exc_mask.sum())
    low = v & ((np.uint64(1) << np.uint64(w)) - np.uint64(1)) if w < 64 else v
    packed = _pack_bits(low, w)
    header = bytes([w]) + np.uint32(n).tobytes() + np.uint16(n_e).tobytes()
    if not n_e:
        return header + packed
    pos = np.flatnonzero(exc_mask).astype(np.uint8).tobytes()
    high = (v[exc_mask] >> np.uint64(w)) if w < 64 else np.zeros(n_e, np.uint64)
    high_buf, _ = varint_encode(high)
    return header + packed + pos + high_buf


def pfor_decode(buf: bytes, offset: int = 0) -> tuple[np.ndarray, int]:
    """Inverse of pfor_encode; returns (values, bytes consumed)."""
    w = buf[offset]
    n = int(np.frombuffer(buf, dtype=np.uint32, count=1, offset=offset + 1)[0])
    n_e = int(np.frombuffer(buf, dtype=np.uint16, count=1, offset=offset + 5)[0])
    pos = offset + 7
    if n == 0:
        return np.zeros(0, dtype=np.uint64), 7
    values = _unpack_bits(buf, n, w, pos)
    pos += (n * w + 7) // 8
    if n_e:
        epos = np.frombuffer(buf, dtype=np.uint8, count=n_e, offset=pos)
        pos += n_e
        # high parts: n_e terminated LEB128 varints — find the span by
        # counting terminator bytes (each value <= 64 bits -> <= 10 bytes)
        raw = np.frombuffer(buf, dtype=np.uint8,
                            count=min(len(buf) - pos, n_e * 10), offset=pos)
        term = np.flatnonzero((raw & 0x80) == 0)
        span = int(term[n_e - 1]) + 1
        high = varint_decode(raw[:span], count=n_e)
        values[epos] |= high << np.uint64(w)
        pos += span
    return values, pos - offset


# --- posting list encode/decode --------------------------------------------

def bm25_tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl,
                 k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """Per-posting BM25 tf component: tf / (tf + k1*(1-b+b*dl/avgdl)).

    THE one copy of this float64 expression — pack-time block-max bounds
    and query-time scoring must be bit-identical, so every caller
    (encode_postings, encode_many, wand.TermPostings) routes through
    here. ``avgdl`` may be a scalar or a per-row array."""
    tfs = tfs.astype(np.float64)
    avgdl_f = np.asarray(avgdl, dtype=np.float64)
    norm = k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl_f)
    return tfs / (tfs + norm)


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    codec: int = CODEC_VARINT,
) -> tuple[bytes, bytes, bytes]:
    """Pack one term's postings (doc_ids MUST be sorted ascending, unique).

    ``dls`` are per-posting analyzed field lengths; block-max bounds are the
    per-block max of the float64 BM25 tf component (safe upper bounds for
    Block-Max WAND since query-time scoring uses the identical float64 math).
    Returns (postings_blob, skips_blob, blockmax_blob).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        # zero postings → the zero-block triple every decode path (and
        # the WAND zero-block pin) already understands
        return (bytes([codec]),
                np.array([0], dtype=np.int64).tobytes(), b"")
    n_blocks = (n + BLOCK - 1) // BLOCK
    tf_norms = bm25_tf_norm(tfs, dls, avgdl, k1, b)

    # deltas: first of each block relative to last docid of previous block
    # (block 0 relative to -1 => delta = docid + 1, so gaps are >= 1)
    prev = np.empty(n, dtype=np.int64)
    prev[0] = -1
    prev[1:] = doc_ids[:-1]
    deltas = (doc_ids - prev).astype(np.uint64)

    parts: list[bytes] = [bytes([codec])]
    offsets = np.zeros(n_blocks, dtype=np.int64)
    last_ids = np.zeros(n_blocks, dtype=np.int64)
    counts = np.zeros(n_blocks, dtype=np.int64)
    blockmax = np.zeros(n_blocks, dtype=np.float64)
    pos = 1

    if codec == CODEC_VARINT:
        delta_buf, delta_lens = varint_encode(deltas)
        tf_buf, tf_lens = varint_encode(tfs.astype(np.uint64))
        dl_buf, dl_lens = varint_encode(dls.astype(np.uint64))
        d_off = np.concatenate(([0], np.cumsum(delta_lens)))
        t_off = np.concatenate(([0], np.cumsum(tf_lens)))
        l_off = np.concatenate(([0], np.cumsum(dl_lens)))
        for bidx in range(n_blocks):
            lo, hi = bidx * BLOCK, min((bidx + 1) * BLOCK, n)
            cnt_bytes, _ = varint_encode(np.array([hi - lo], dtype=np.uint64))
            block = (cnt_bytes + delta_buf[d_off[lo]:d_off[hi]]
                     + tf_buf[t_off[lo]:t_off[hi]] + dl_buf[l_off[lo]:l_off[hi]])
            offsets[bidx] = pos
            last_ids[bidx] = doc_ids[hi - 1]
            counts[bidx] = hi - lo
            blockmax[bidx] = float(np.max(tf_norms[lo:hi]))
            parts.append(block)
            pos += len(block)
    elif codec in (CODEC_FOR, CODEC_PFOR):
        enc = for_encode if codec == CODEC_FOR else pfor_encode
        for bidx in range(n_blocks):
            lo, hi = bidx * BLOCK, min((bidx + 1) * BLOCK, n)
            cnt_bytes, _ = varint_encode(np.array([hi - lo], dtype=np.uint64))
            block = (cnt_bytes + enc(deltas[lo:hi])
                     + enc(tfs[lo:hi].astype(np.uint64))
                     + enc(dls[lo:hi].astype(np.uint64)))
            offsets[bidx] = pos
            last_ids[bidx] = doc_ids[hi - 1]
            counts[bidx] = hi - lo
            blockmax[bidx] = float(np.max(tf_norms[lo:hi]))
            parts.append(block)
            pos += len(block)
    else:
        raise ValueError(f"unknown codec {codec}")

    skips = np.concatenate((
        np.array([n_blocks], dtype=np.int64), last_ids, offsets, counts,
    ))
    return b"".join(parts), skips.tobytes(), blockmax.astype(np.float64).tobytes()


def decode_skips(skips_blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(block_last_docids, block_offsets, block_counts)."""
    arr = np.frombuffer(skips_blob, dtype=np.int64)
    nb = int(arr[0])
    return arr[1 : 1 + nb], arr[1 + nb : 1 + 2 * nb], arr[1 + 2 * nb : 1 + 3 * nb]


def decode_blockmax(blockmax_blob: bytes) -> np.ndarray:
    return np.frombuffer(blockmax_blob, dtype=np.float64)


def _decode_one_varint(buf: memoryview, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        byte = buf[pos]
        result |= (byte & 0x7F) << shift
        pos += 1
        if not byte & 0x80:
            return result, pos
        shift += 7


def decode_block(
    postings_blob: bytes,
    offset: int,
    prev_last_docid: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Decode one FOR/PFOR block at ``offset`` → (doc_ids, tfs, dls,
    end_pos). Varint lists decode whole, through ``_varint_lists``."""
    codec = postings_blob[0]
    if codec not in (CODEC_FOR, CODEC_PFOR):
        raise ValueError(f"decode_block reads FOR/PFOR blocks, not codec {codec}")
    dec = for_decode if codec == CODEC_FOR else pfor_decode
    _, pos = _decode_one_varint(memoryview(postings_blob), offset)
    deltas, used = dec(postings_blob, pos)
    pos += used
    tfs, used = dec(postings_blob, pos)
    pos += used
    dls, used = dec(postings_blob, pos)
    pos += used
    doc_ids = np.cumsum(deltas.astype(np.int64)) + prev_last_docid
    return doc_ids, tfs.astype(np.int64), dls.astype(np.int64), pos


def decode_postings(postings_blob: bytes, skips_blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the full posting list → (doc_ids, tfs, dls).

    For the varint codec the entire blob past the codec byte is one varint
    stream ([count, deltas.., tfs..] per block), so the whole list decodes
    in a single vectorized pass; block structure is recovered from the skip
    table's per-block counts.
    """
    last_ids, offsets, counts = decode_skips(skips_blob)
    n_blocks = last_ids.size
    empty = np.zeros(0, dtype=np.int64)
    if n_blocks == 0:
        return empty, empty.copy(), empty.copy()
    codec = postings_blob[0]
    if codec == CODEC_VARINT:
        return _varint_lists(np.frombuffer(postings_blob, dtype=np.uint8)[1:],
                             counts, np.array([counts.sum()], dtype=np.int64))
    all_ids, all_tfs, all_dls = [], [], []
    prev = -1
    for bidx in range(n_blocks):
        ids, tfs, dls, _ = decode_block(postings_blob, int(offsets[bidx]), prev)
        all_ids.append(ids)
        all_tfs.append(tfs)
        all_dls.append(dls)
        prev = int(last_ids[bidx])
    return np.concatenate(all_ids), np.concatenate(all_tfs), np.concatenate(all_dls)


# --- batched multi-group encoder (index-build hot path) ---------------------

# varint bytes for block counts 1..BLOCK precomputed (count <= 128)
_COUNT_BYTES = [b""] + [
    bytes([c]) if c < 128 else bytes([(c & 0x7F) | 0x80, c >> 7])
    for c in range(1, BLOCK + 1)
]


def _varint_lists(payload: np.ndarray, C: np.ndarray, dfs: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the varint payloads of many posting lists in ONE vectorized
    pass — THE one copy of the varint stream layout.

    ``payload`` is the lists' blobs joined, codec bytes stripped (terminated
    LEB128 streams concatenate cleanly); ``C`` is every block's posting
    count in stream order and ``dfs`` each list's posting count. Per-block
    delta/tf/dl segments are separated with global index arithmetic — no
    per-list or per-block Python loops over values. Returns the lists'
    concatenated ``(doc_ids, tfs, dls)`` as int64."""
    e = np.zeros(0, dtype=np.int64)
    C = np.asarray(C, dtype=np.int64)
    if C.size == 0:  # every list is zero-block
        return e, e.copy(), e.copy()
    vals = varint_decode(payload)
    total = int(C.sum())
    # value-stream layout per block: [1 count][C deltas][C tfs][C dls]
    seg = 1 + 3 * C
    S = np.concatenate(([0], np.cumsum(seg)[:-1]))  # block starts in vals
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(C) - C, C
    )
    base = np.repeat(S + 1, C)
    creps = np.repeat(C, C)
    deltas = vals[base + within]
    tfs = vals[base + creps + within].astype(np.int64)
    dls = vals[base + 2 * creps + within].astype(np.int64)

    # segmented cumsum: delta chains reset at each LIST boundary. The
    # running sum grows by ~last_doc_id per list; with hash-range ids
    # (~2^50) a single global cumsum over a very large batch could
    # silently wrap int64, so the list axis is chunked — each chunk's
    # partial sum stays orders of magnitude below 2^63 while the math
    # inside a chunk remains fully vectorized.
    n_lists = dfs.size
    first = np.cumsum(dfs) - dfs  # first posting index of each list
    doc_ids = np.empty(total, dtype=np.int64)
    CHUNK = 4096  # 4096 × max_doc_id(≈2^50) ≈ 2^62 — safe margin
    for c0 in range(0, n_lists, CHUNK):
        c1 = min(c0 + CHUNK, n_lists)
        lo = int(first[c0])
        hi = int(first[c1 - 1] + dfs[c1 - 1])
        if hi == lo:
            continue  # every list in the chunk is zero-df: nothing to fill
        seg = deltas[lo:hi].astype(np.int64)
        g = np.cumsum(seg)
        # a zero-df list sitting at the chunk's end would index one past
        # seg; clamp — np.repeat with dfs=0 discards the value anyway
        f_local = np.minimum((first[c0:c1] - lo).astype(np.int64),
                             len(seg) - 1)
        offset = np.repeat(g[f_local] - seg[f_local], dfs[c0:c1])
        doc_ids[lo:hi] = g - offset - 1
    return doc_ids, tfs, dls


class PostingsColumns(NamedTuple):
    """Many posting lists decoded into CSR form (compressed sparse rows:
    flat arrays plus per-list start offsets) — the resident layout a
    serving node scores from. List ``i`` owns postings
    ``offsets[i]:offsets[i+1]`` and blocks
    ``block_offsets[i]:block_offsets[i+1]``. Costs 16 B per posting plus
    24 B per block."""

    ids: np.ndarray            # int64 doc ids, ascending within a list
    tfs: np.ndarray            # int32
    dls: np.ndarray            # int32 analyzed field lengths
    offsets: np.ndarray        # int64 [n_lists + 1] posting offsets
    block_offsets: np.ndarray  # int64 [n_lists + 1] block-table offsets
    block_last: np.ndarray     # int64 last doc id of each block
    block_end: np.ndarray      # int64 end offset of each block in its list
    block_max: np.ndarray      # float64 block-max tf-norm bound

    def list_arrays(self, i: int) -> tuple:
        """List ``i`` as views: (ids, tfs, dls, block_last, block_end,
        block_max)."""
        lo, hi = self.offsets[i], self.offsets[i + 1]
        blo, bhi = self.block_offsets[i], self.block_offsets[i + 1]
        return (self.ids[lo:hi], self.tfs[lo:hi], self.dls[lo:hi],
                self.block_last[blo:bhi], self.block_end[blo:bhi],
                self.block_max[blo:bhi])


def _binary_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(value offsets rebased to 0, value bytes) of a binary Arrow array
    or chunked array, read straight from its buffers. Cast to large_binary
    first, so the joined chunks may exceed 2 GiB."""
    if not (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)):
        raise TypeError(f"posting column of type {col.type}, not binary")
    arr = col.cast(pa.large_binary())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint8)
    if arr.null_count:
        raise ValueError("null posting blob")
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, dtype=np.int64, count=n + 1,
                        offset=8 * arr.offset)
    data = np.frombuffer(data_buf, dtype=np.uint8, count=int(off[-1] - off[0]),
                         offset=int(off[0]))
    return off - off[0], data


def _flat_blobs(blobs) -> tuple[np.ndarray, np.ndarray]:
    """``_binary_buffers`` for an Arrow binary column or a sequence of
    bytes-like blobs (joined into one buffer)."""
    if isinstance(blobs, (pa.Array, pa.ChunkedArray)):
        return _binary_buffers(blobs)
    lens = np.fromiter(map(len, blobs), dtype=np.int64, count=len(blobs))
    return (np.concatenate(([0], np.cumsum(lens))),
            np.frombuffer(b"".join(blobs), dtype=np.uint8))


def _decode_lists(poff, pdata, soff, sdata):
    """Decode many posting lists held as flat buffers — blob ``i`` is
    ``pdata[poff[i]:poff[i+1]]``, its skip table ``sdata[soff[i]:
    soff[i+1]]`` — with a constant number of numpy calls.

    The skip tables are gathered from the flat buffer; every varint row's
    payload joins ONE ``_varint_lists`` pass and FOR/PFOR rows go through
    ``decode_postings``, one call per row, scattered into place. Returns
    the lists' concatenated ``(doc_ids, tfs, dls)`` as int64 plus
    ``offsets`` (posting offsets per list), ``block_offsets`` (block-table
    offsets per list), ``block_last`` and ``counts`` (per block)."""
    # skip tables, concatenated: [n_blocks, last_ids.., offsets.., counts..]
    sk = np.frombuffer(sdata, dtype=np.int64)
    sstart = soff[:-1] // 8
    nb = sk[sstart]
    block_offsets = np.concatenate(([0], np.cumsum(nb))).astype(np.int64)
    n_blk = int(block_offsets[-1])
    within = np.arange(n_blk, dtype=np.int64) - np.repeat(block_offsets[:-1], nb)
    first = np.repeat(sstart + 1, nb) + within
    block_last = sk[first]
    counts = sk[first + 2 * np.repeat(nb, nb)]
    ccum = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    offsets = ccum[block_offsets]
    dfs = np.diff(offsets)

    # postings: strip each blob's codec byte, decode every varint row at once
    starts = poff[:-1]
    if (poff[1:] == starts).any():
        raise ValueError("empty posting blob")
    is_var = pdata[starts] == CODEC_VARINT
    keep = np.repeat(is_var, np.diff(poff))
    keep[starts] = False
    ids, tfs, dls = _varint_lists(pdata[keep], counts[np.repeat(is_var, nb)],
                                  dfs[is_var])
    if not is_var.all():
        at = np.repeat(is_var, dfs)
        parts = [np.empty(int(offsets[-1]), dtype=np.int64) for _ in range(3)]
        for part, v in zip(parts, (ids, tfs, dls)):
            part[at] = v
        for i in np.flatnonzero(~is_var):
            dec = decode_postings(pdata[poff[i]:poff[i + 1]].tobytes(),
                                  sdata[soff[i]:soff[i + 1]].tobytes())
            for part, v in zip(parts, dec):
                part[offsets[i]:offsets[i + 1]] = v
        ids, tfs, dls = parts
    return ids, tfs, dls, offsets, block_offsets, block_last, counts


def decode_many(blobs, skips_blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode MANY posting blobs of any codec — a sequence of bytes
    or a binary Arrow column each — through ``_decode_lists``.

    Returns ``(doc_ids, tfs, dls, dfs)``: the concatenated postings of every
    blob in input order plus the per-blob posting count."""
    ids, tfs, dls, offsets, *_ = _decode_lists(*_flat_blobs(blobs),
                                               *_flat_blobs(skips_blobs))
    return ids, tfs, dls, np.diff(offsets)


def decode_generation(postings, skips, blockmax) -> PostingsColumns:
    """Decode a whole generation's ``postings`` / ``skips`` / ``blockmax``
    binary Arrow columns (one posting list per row) into
    :class:`PostingsColumns`, with a constant number of numpy calls
    (``_decode_lists``) plus one per FOR/PFOR row."""
    _, bdata = _binary_buffers(blockmax)
    ids, tfs, dls, offsets, block_offsets, block_last, counts = _decode_lists(
        *_binary_buffers(postings), *_binary_buffers(skips))
    block_max = np.frombuffer(bdata, dtype=np.float64)
    if block_max.size != block_last.size:
        raise ValueError(f"{block_max.size} block-max bounds for "
                         f"{block_last.size} blocks")
    block_end = np.cumsum(counts) - np.repeat(offsets[:-1],
                                              np.diff(block_offsets))
    return PostingsColumns(ids, tfs.astype(np.int32), dls.astype(np.int32),
                           offsets, block_offsets, block_last, block_end,
                           block_max)


def encode_many(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    avgdl_per_row: np.ndarray,
    k1: float = 1.2,
    b: float = 0.75,
    codec: int = CODEC_VARINT,
) -> tuple[list, list, list]:
    """Encode MANY posting groups: ``doc_ids[starts[g]:ends[g]]`` is group
    g, already sorted ascending.

    For the varint codec the three varint streams are produced by single
    whole-array calls; per-group work is pure slicing — this is what makes
    tens of thousands of small terms cheap (no per-group numpy-call
    overhead). FOR/PFOR groups go through ``encode_postings``, one call
    per group.

    Returns (postings_blobs, skips_blobs, blockmax_blobs) lists.
    """
    if codec not in (CODEC_VARINT, CODEC_FOR, CODEC_PFOR):
        raise ValueError(f"unknown codec {codec}")
    n = doc_ids.size
    n_groups = starts.size
    doc_ids = doc_ids.astype(np.int64, copy=False)
    if n == 0:
        # all groups empty: one zero-block triple per group (the same
        # representation decode_many's zero-df clamp exists to survive)
        zskip = np.array([0], dtype=np.int64).tobytes()
        return ([bytes([codec])] * n_groups,
                [zskip] * n_groups, [b""] * n_groups)
    if codec != CODEC_VARINT:
        triples = [encode_postings(doc_ids[lo:hi], tfs[lo:hi], dls[lo:hi],
                                   avgdl_per_row[lo:hi], k1, b, codec)
                   for lo, hi in zip(starts.tolist(), ends.tolist())]
        return tuple(map(list, zip(*triples)))

    # deltas with reset at group starts (delta = doc_id + 1 there).
    # An EMPTY group has starts[g] == ends[g]; when that offset is n
    # (trailing empty groups) there is no row to reset — writing
    # prev[n-1] = -1 would corrupt the LAST real group's delta chain,
    # so out-of-range starts are dropped, never clamped.
    prev = np.empty(n, dtype=np.int64)
    prev[0] = -1
    prev[1:] = doc_ids[:-1]
    prev[starts[starts < n]] = -1
    deltas = (doc_ids - prev).astype(np.uint64)

    d_buf, d_lens = varint_encode(deltas)
    t_buf, t_lens = varint_encode(tfs.astype(np.uint64))
    l_buf, l_lens = varint_encode(dls.astype(np.uint64))
    d_off = np.concatenate(([0], np.cumsum(d_lens)))
    t_off = np.concatenate(([0], np.cumsum(t_lens)))
    l_off = np.concatenate(([0], np.cumsum(l_lens)))

    # per-row tf norms → per-block maxima via reduceat over block starts
    tfn = bm25_tf_norm(tfs, dls, avgdl_per_row, k1, b)

    blobs: list[bytes] = []
    skips_l: list[bytes] = []
    bmax_l: list[bytes] = []
    header = bytes([CODEC_VARINT])
    d_mv, t_mv, l_mv = memoryview(d_buf), memoryview(t_buf), memoryview(l_buf)
    for g in range(n_groups):
        lo, hi = int(starts[g]), int(ends[g])
        gsize = hi - lo
        n_blocks = (gsize + BLOCK - 1) // BLOCK
        block_starts = lo + np.arange(n_blocks, dtype=np.int64) * BLOCK
        block_ends = np.minimum(block_starts + BLOCK, hi)
        parts = [header]
        offsets = np.empty(n_blocks, dtype=np.int64)
        pos = 1
        for bi in range(n_blocks):
            blo, bhi = int(block_starts[bi]), int(block_ends[bi])
            cnt = _COUNT_BYTES[bhi - blo]
            block = b"".join(
                (
                    cnt,
                    d_mv[d_off[blo]:d_off[bhi]],
                    t_mv[t_off[blo]:t_off[bhi]],
                    l_mv[l_off[blo]:l_off[bhi]],
                )
            )
            offsets[bi] = pos
            pos += len(block)
            parts.append(block)
        blobs.append(b"".join(parts))
        last_ids = doc_ids[block_ends - 1]
        counts = block_ends - block_starts
        skips_l.append(
            np.concatenate(
                (np.array([n_blocks], dtype=np.int64), last_ids, offsets, counts)
            ).tobytes()
        )
        bmax = np.maximum.reduceat(tfn[lo:hi], block_starts - lo)
        bmax_l.append(bmax.astype(np.float64).tobytes())
    return blobs, skips_l, bmax_l


def merge_postings(blobs, skips_blobs, group: np.ndarray,
                   avgdl_per_group: np.ndarray, codec: int = CODEC_VARINT
                   ) -> tuple[list, list, list]:
    """THE postings merge: partial lists → ``decode_many`` → order by
    (group, doc_id) → ``encode_many``.

    Partial ``i`` belongs to ``group[i]`` (``0 <= group[i] < G``, with
    ``G = avgdl_per_group.size``); the partials may be of any codec and
    the merged lists are written in ``codec``. Equal doc ids keep their
    partials' input order (stable sort). Returns the G merged
    (postings, skips, blockmax) blob lists."""
    ids, tfs, dls, dfs = decode_many(blobs, skips_blobs)
    of_post = np.repeat(np.asarray(group, dtype=np.int64), dfs)
    order = np.lexsort((ids, of_post))
    g_df = np.bincount(of_post, minlength=avgdl_per_group.size)
    ends = np.cumsum(g_df)
    return encode_many(ids[order], tfs[order], dls[order], ends - g_df, ends,
                       np.repeat(avgdl_per_group, g_df), codec=codec)
