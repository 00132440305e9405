"""Posting-codec round-trip (property-based) + block metadata."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.index.codec import (
    BLOCK,
    block_metadata,
    blob_buffers,
    decode_postings,
    decode_postings_batch,
    decode_varints,
    encode_postings,
    encode_varints,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = decode_varints(encode_varints(arr))
    assert out.tolist() == vals


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
            st.integers(min_value=1, max_value=100_000),
        ),
        max_size=400,
    )
)
@settings(max_examples=150, deadline=None)
def test_posting_roundtrip(entries):
    # unique ascending doc ids
    by_doc = {d: (tf, dl) for d, tf, dl in entries}
    docs = np.array(sorted(by_doc), dtype=np.int64)
    tfs = np.array([by_doc[d][0] for d in docs], dtype=np.int64)
    dls = np.array([by_doc[d][1] for d in docs], dtype=np.int64)
    d2, t2, l2 = decode_postings(encode_postings(docs, tfs, dls))
    assert (d2 == docs).all() and (t2 == tfs).all() and (l2 == dls).all()


def test_encode_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_postings(np.array([5, 3]), np.array([1, 1]), np.array([1, 1]))


def test_compression_beats_raw():
    """Dense gap-1 lists must compress far below 8-byte-per-field raw."""
    n = 10_000
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    dls = np.full(n, 50, dtype=np.int64)
    blob = encode_postings(docs, tfs, dls)
    assert len(blob) <= 3 * n + 8  # ~1 byte per varint at gap=1/tf=1/dl=50
    assert len(blob) < 24 * n / 6  # ≥6x vs raw int64 triples


def test_block_metadata_shapes():
    docs = np.arange(BLOCK * 2 + 7)
    scores = np.linspace(1.0, 0.0, len(docs))
    last, mx = block_metadata(docs, scores)
    assert len(last) == 3 and len(mx) == 3
    assert last[0] == BLOCK - 1 and last[-1] == len(docs) - 1
    assert mx[0] == scores[:BLOCK].max() and mx[-1] == scores[BLOCK * 2 :].max()
    # padding must not inflate the last block's bound
    assert mx[-1] <= scores[BLOCK * 2]


def _blobs() -> list[bytes]:
    """Posting blobs with one-byte and multi-byte varints: gaps of 2^14
    and more (three bytes), tf and dl of 128 and more (two bytes), and
    empty blobs between them."""
    rng = np.random.default_rng(7)
    out = []
    for i in range(24):
        if i % 5 == 0:
            out.append(b"")
            continue
        n = int(rng.integers(1, 300))
        step = 1 << 14 if i % 3 == 0 else 1
        docs = np.cumsum(rng.integers(step, 3 * step, n)) + int(rng.integers(0, 1 << 20))
        tfs = rng.integers(1, 400, n)
        dls = rng.integers(1, 5000, n) if i % 2 else np.full(n, 128)
        out.append(encode_postings(docs, tfs, dls))
    return out


@pytest.mark.parametrize("shape", ["array", "sliced", "chunked"])
def test_decode_postings_batch_equals_per_row(shape):
    """The column decoder returns, for each row, what the one-blob
    decoder returns for that row's blob: on a plain binary array, on a
    slice of one (non-zero offset) and on a chunked column."""
    blobs = _blobs()
    arr = pa.array(blobs, pa.binary())
    col = {
        "array": arr,
        "sliced": arr.slice(3, 17),
        "chunked": pa.chunked_array([arr.slice(0, 6), arr.slice(6, 1), arr.slice(7)]),
    }[shape]
    want = col.to_pylist()
    assert b"" in want and max(len(b) for b in want) > 0
    docs, tfs, dls, row = decode_postings_batch(*blob_buffers(col))
    assert len(row) == len(want) + 1 and row[0] == 0 and row[-1] == len(docs)
    for i, blob in enumerate(want):
        d, t, l = decode_postings(blob)
        got = slice(row[i], row[i + 1])
        assert d.tolist() == docs[got].tolist()
        assert t.tolist() == tfs[got].tolist() and l.tolist() == dls[got].tolist()
    assert docs.dtype == tfs.dtype == dls.dtype == np.int64
    assert any((np.diff(decode_postings(b)[0]) >= 1 << 14).any() for b in want)
    assert (dls >= 128).any()


def test_decode_postings_batch_rejects_split_varint():
    """A varint whose bytes cross from one blob into the next is corrupt."""
    blob = encode_postings(np.array([300]), np.array([1]), np.array([1]))
    data = np.frombuffer(blob + blob, dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_postings_batch(np.array([0, 1, len(data)]), data)
