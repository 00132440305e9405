"""Delta-gap + varint posting-list codec (numpy-vectorized, no per-row
Python loops over entries).

The reference delegates posting storage to Bleve's zapx segments
(roaring bitmaps + FST term dictionaries, reference ``go.mod:6-7,24-30``).
Our layout is the columnar analogue (BASELINE.json north_star: "delta-gap
+ varint-style compression stored as binary columns"):

- a posting **segment** is one row of the postings table
  (``build.SEGMENT_SCHEMA``): ``(bucket, term, seg, n, first_doc,
  last_doc, postings BINARY, block_last_doc ARRAY<BIGINT>,
  block_max_tfnorm ARRAY<DOUBLE>, seg_max_tfnorm DOUBLE, sum_tf BIGINT)``;
- ``postings`` is a single LEB128 varint stream of ``3*n`` values
  ``[doc0, tf0, dl0, gap1, tf1, dl1, ...]`` — doc ids are delta-gapped
  (ascending), tf/dl stored inline so query-time scoring needs **no join
  back to a doc table**;
- block metadata every ``BLOCK`` entries carries the block's last docID
  and the max BM25 tf-norm of its entries, which times the query-time
  idf bounds each entry's contribution — the block-max structures used
  for WAND-style pruning (north_rule). ``seg_max_tfnorm`` is the same
  bound over the whole row, and ``sum_tf`` the row's share of the
  term's collection frequency.

Everything here is plain numpy on host memory; Spark calls it from Arrow
pandas UDFs (one call per segment group, vectorized inside).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK = 128
# Segment span in doc-number space: one segment covers doc_ints in
# [seg*SEG_SPAN, (seg+1)*SEG_SPAN). Heavy-hitter terms therefore split
# into many independent rows (bounded shuffle skew — the "salting" of
# the north rule), and segments are doc-aligned ACROSS terms, which is
# what makes block-max pruning sound for multi-term queries.
SEG_SPAN = 1 << 16


def encode_varints_with_offsets(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative int64/uint64 array → (uint8 buffer,
    per-value byte offsets of length ``n+1``). Because LEB128 is a
    per-value code, ``buf[offs[i]:offs[j]]`` is exactly the encoding of
    ``vals[i:j]`` — segment-group encoders exploit this to encode one
    big stream and slice per-term blobs for free."""
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    n = len(vals)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    lens = np.ones(n, dtype=np.int64)
    v = vals >> np.uint64(7)
    while v.any():
        lens += v > 0
        v >>= np.uint64(7)
    offs = np.empty(n + 1, dtype=np.int64)
    offs[0] = 0
    np.cumsum(lens, out=offs[1:])
    out = np.zeros(offs[-1], dtype=np.uint8)
    v = vals.copy()
    for i in range(int(lens.max())):
        mask = lens > i
        idx = offs[:-1][mask] + i
        byte = (v[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[mask] > i + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        v >>= np.uint64(7)
    return out, offs


def encode_varints(vals: np.ndarray) -> np.ndarray:
    """LEB128-encode a non-negative int64/uint64 array → uint8 buffer."""
    return encode_varints_with_offsets(vals)[0]


def _varints(b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-decode a uint8 buffer → (uint64 values, and for each byte
    position 0..len(b) the number of values that end before it)."""
    is_end = (b & 0x80) == 0
    before = np.zeros(len(b) + 1, dtype=np.int64)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64), before
    if not is_end[-1]:
        raise ValueError("corrupt varint stream: last value is truncated")
    np.cumsum(is_end, out=before[1:])
    starts = np.empty(before[-1], dtype=np.int64)
    starts[0] = 0
    starts[1:] = np.flatnonzero(is_end)[:-1] + 1
    shift = 7 * (np.arange(len(b), dtype=np.int64) - starts[before[:-1]])
    # each value's bytes hold disjoint bit ranges: their sum is the value
    vals = np.add.reduceat((b & 0x7F).astype(np.uint64) << shift.astype(np.uint64), starts)
    return vals, before


def decode_varints(buf: bytes | np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_varints` → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    return _varints(b)[0]


def encode_postings(doc_ints: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """Encode parallel arrays (doc_ints ASCENDING, tf, dl) → varint blob."""
    doc_ints = np.ascontiguousarray(doc_ints, dtype=np.int64)
    n = len(doc_ints)
    if n == 0:
        return b""
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_ints[0]
    np.subtract(doc_ints[1:], doc_ints[:-1], out=gaps[1:])
    if n > 1 and gaps[1:].min() <= 0:
        raise ValueError("doc_ints must be strictly ascending")
    inter = np.empty(3 * n, dtype=np.uint64)
    inter[0::3] = gaps.astype(np.uint64)
    inter[1::3] = np.ascontiguousarray(tfs, dtype=np.uint64)
    inter[2::3] = np.ascontiguousarray(dls, dtype=np.uint64)
    return encode_varints(inter).tobytes()


def decode_postings_batch(
    offsets: np.ndarray, data: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode a whole column of posting blobs at once: blob ``i`` is
    ``data[offsets[i]:offsets[i + 1]]`` (an Arrow binary array's offsets
    and data buffers, see :func:`blob_buffers`). One varint pass covers
    every blob, since each blob is a whole number of values, and one
    cumulative sum restarted at each blob's first entry undoes the gaps.
    → (doc_ints int64, tf int64, dl int64, row offsets): blob ``i``'s
    entries are ``[row[i], row[i + 1])``, ascending doc_ints."""
    offsets = np.asarray(offsets, dtype=np.int64)
    lo = offsets[0]
    b = data[lo : offsets[-1]]
    vals, before = _varints(b)
    if len(offsets) > 2:  # _varints checks the last blob's end
        inner = offsets[1:-1] - lo
        if (b[inner[inner > 0] - 1] & 0x80).any():
            raise ValueError("corrupt posting blob: a varint crosses the blob's end")
    counts = before[offsets - lo]
    if (counts % 3).any():
        raise ValueError("corrupt posting blob: length not a multiple of 3")
    row = counts // 3
    docs = np.cumsum(vals[0::3])
    if len(row) > 2:
        # unsigned, so the running sum may wrap: each blob's difference is exact
        first = np.concatenate((np.zeros(1, dtype=np.uint64), docs))[row[:-1]]
        docs -= np.repeat(first, np.diff(row))
    return docs.astype(np.int64), vals[1::3].astype(np.int64), vals[2::3].astype(np.int64), row


def decode_postings(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (doc_ints ascending int64, tf int64, dl int64): the one-blob
    case of :func:`decode_postings_batch`."""
    data = np.frombuffer(blob, dtype=np.uint8)
    return decode_postings_batch(np.array([0, len(data)]), data)[:3]


def blob_buffers(col: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a binary Arrow column, chunked or sliced, as
    :func:`decode_postings_batch` takes them; zero-copy for one chunk."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks() if col.num_chunks != 1 else col.chunk(0)
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    _, offs, data = col.buffers()
    offsets = np.frombuffer(offs, dtype=width)[col.offset : col.offset + len(col) + 1]
    return offsets, np.frombuffer(data, dtype=np.uint8)


def block_metadata(
    doc_ints: np.ndarray, scores: np.ndarray, block: int = BLOCK
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last_doc, max_score) for WAND-style skipping.

    ``scores`` are the per-entry values to bound; the build passes each
    entry's BM25 tf-norm (avgdl is known at build time, idf is not), so
    ``max_score * idf`` bounds the block's contributions at query time.
    """
    n = len(doc_ints)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    nb = (n + block - 1) // block
    pad = nb * block - n
    last = np.ascontiguousarray(doc_ints, dtype=np.int64)
    sc = np.ascontiguousarray(scores, dtype=np.float64)
    if pad:
        last = np.concatenate([last, np.full(pad, last[-1])])
        sc = np.concatenate([sc, np.zeros(pad)])
    return last.reshape(nb, block)[:, -1].copy(), sc.reshape(nb, block).max(axis=1)
