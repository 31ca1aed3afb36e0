"""Property-style round-trip tests for the posting codecs (SURVEY.md §5.2-1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from engine.codecs import (
    decode_posting_block,
    decode_posting_blocks_batch,
    delta_decode,
    delta_encode,
    encode_posting_block,
    varint_decode,
    varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == xs


def test_varint_boundaries():
    edges = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**35, 2**63 - 1,
             2**63, 2**64 - 1]
    arr = np.array(edges, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == edges
    # the 10-byte values next to 1-byte ones, in both orders
    mixed = [0, 2**64 - 1, 127, 2**63, 128, 0]
    assert varint_decode(varint_encode(np.array(mixed, dtype=np.uint64))).tolist() == mixed
    assert varint_encode(np.array([2**64 - 1], dtype=np.uint64)) == b"\xff" * 9 + b"\x01"


def test_varint_random_multibyte_and_errors():
    rng = np.random.default_rng(65)
    # every byte length 1..10, in random order
    bits = rng.integers(0, 65, size=20_000)
    v = (rng.integers(0, 2**63, size=bits.size, dtype=np.uint64) << np.uint64(1)
         | rng.integers(0, 2, size=bits.size, dtype=np.uint64))
    v = np.where(bits == 64, v, v & ((np.uint64(1) << bits.astype(np.uint64)) - np.uint64(1)))
    out = varint_decode(varint_encode(v))
    assert out.dtype == np.uint64 and np.array_equal(out, v)
    assert varint_decode(b"").dtype == np.uint64 and varint_decode(b"").size == 0
    cut = varint_encode(np.append(v, np.uint64(2**64 - 1)))[:-1]
    for bad in (b"\x80", b"\x05\xff", cut):
        with pytest.raises(ValueError, match="mid-value"):
            varint_decode(bad)
    for bad in (b"\x80" * 10 + b"\x00", b"\x01" + b"\x80" * 1_000_000 + b"\x00"):
        with pytest.raises(ValueError, match="longer than 10 bytes"):
            varint_decode(bad)
    assert varint_decode(b"\x80" * 9 + b"\x01").tolist() == [2**63]


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    ids = sorted(ids)
    arr = np.array(ids, dtype=np.int64)
    assert delta_decode(delta_encode(arr)).tolist() == ids


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 3], dtype=np.int64))
    with pytest.raises(ValueError):
        delta_encode(np.array([3, 3], dtype=np.int64))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),
            st.integers(min_value=1, max_value=10_000),
        ),
        min_size=0,
        max_size=256,
    )
)
@settings(max_examples=200, deadline=None)
def test_block_roundtrip(pairs):
    pairs = sorted({d: t for d, t in pairs}.items())
    docs = np.array([d for d, _ in pairs], dtype=np.int64)
    tfs = np.array([t for _, t in pairs], dtype=np.int64)
    db, tb = encode_posting_block(docs, tfs)
    d2, t2 = decode_posting_block(db, tb)
    assert d2.tolist() == docs.tolist()
    assert t2.tolist() == tfs.tolist()


@given(
    st.lists(  # several blocks, each a sorted unique (doc, tf) list
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2**40),
                st.integers(min_value=1, max_value=10_000),
            ),
            min_size=1,
            max_size=64,
        ),
        min_size=0,
        max_size=32,
    )
)
@settings(max_examples=100, deadline=None)
def test_batch_block_decode_matches_per_block(blocks):
    doc_bufs, tf_bufs, dl_bufs, ns = [], [], [], []
    want_docs, want_tfs, want_dls = [], [], []
    rng = np.random.default_rng(7)
    for pairs in blocks:
        pairs = sorted({d: t for d, t in pairs}.items())
        docs = np.array([d for d, _ in pairs], dtype=np.int64)
        tfs = np.array([t for _, t in pairs], dtype=np.int64)
        dls = rng.integers(1, 5000, size=len(docs)).astype(np.uint64)
        db, tb = encode_posting_block(docs, tfs)
        doc_bufs.append(db)
        tf_bufs.append(tb)
        dl_bufs.append(varint_encode(dls))
        ns.append(len(docs))
        want_docs.append(docs)
        want_tfs.append(tfs)
        want_dls.append(dls.astype(np.int64))
    d, t, l = decode_posting_blocks_batch(
        doc_bufs, tf_bufs, dl_bufs, np.array(ns, dtype=np.int64)
    )
    cat = lambda xs: np.concatenate(xs).tolist() if xs else []
    assert d.tolist() == cat(want_docs)
    assert t.tolist() == cat(want_tfs)
    assert l.tolist() == cat(want_dls)


def test_batch_block_decode_detects_count_mismatch():
    db, tb = encode_posting_block(
        np.array([1, 5, 9], dtype=np.int64), np.array([1, 2, 3], dtype=np.int64)
    )
    lb = varint_encode(np.array([10, 11, 12], dtype=np.uint64))
    with pytest.raises(ValueError, match="corruption"):
        decode_posting_blocks_batch([db], [tb], [lb], np.array([2], dtype=np.int64))


def test_compression_is_compact():
    docs = np.arange(0, 128 * 50, 50, dtype=np.int64)  # gaps of 50 -> 1 byte each
    tfs = np.ones(128, dtype=np.int64)
    db, tb = encode_posting_block(docs, tfs)
    assert len(db) <= 2 + 127  # first id ≤2 bytes + 1-byte gaps
    assert len(tb) == 128


# ---------------------------------------------------------------------------
# pfor: per-block FOR bit-packing (unpatched PForDelta base)
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                 min_size=1, max_size=40),
        min_size=1, max_size=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_pfor_roundtrip_blocks(blocks):
    from engine.codecs import pfor_pack_blocks, pfor_unpack_blocks

    flat = np.array([v for b in blocks for v in b], dtype=np.uint64)
    ns = np.array([len(b) for b in blocks], dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(ns[:-1])))
    buf, lens = pfor_pack_blocks(flat, starts, starts + ns)
    offs = np.concatenate(([0], np.cumsum(lens)))
    bufs = [buf[offs[i]:offs[i + 1]] for i in range(len(ns))]
    assert np.array_equal(pfor_unpack_blocks(bufs, ns), flat)


def test_pfor_single_stream_and_corruption():
    from engine.codecs import decode_value_stream, pfor_pack_blocks

    vals = np.array([0, 1, 127, 128, 2**40, 2**63], dtype=np.uint64)
    buf, lens = pfor_pack_blocks(
        vals, np.array([0], dtype=np.int64), np.array([len(vals)], dtype=np.int64)
    )
    assert np.array_equal(decode_value_stream(bytes(buf), len(vals), "pfor"), vals)
    # a truncated buffer must be rejected, not silently mis-decoded
    with pytest.raises(ValueError, match="corruption"):
        decode_value_stream(bytes(buf)[:-1], len(vals), "pfor")


def test_pfor_all_zero_block_has_empty_payload():
    from engine.codecs import pfor_pack_blocks, pfor_unpack_blocks

    vals = np.zeros(200, dtype=np.uint64)
    buf, lens = pfor_pack_blocks(
        vals, np.array([0], dtype=np.int64), np.array([200], dtype=np.int64)
    )
    assert lens[0] == 2  # width byte + exception-count byte only
    assert np.array_equal(
        pfor_unpack_blocks([buf], np.array([200], dtype=np.int64)), vals
    )


def test_decode_posting_block_pfor_needs_n():
    from engine.codecs import decode_posting_block, pfor_pack_blocks

    docs = np.array([3, 7, 20], dtype=np.int64)
    tfs = np.array([1, 5, 2], dtype=np.uint64)
    deltas = np.array([3, 4, 13], dtype=np.uint64)  # per-block-restarted
    st0 = np.array([0], dtype=np.int64)
    en0 = np.array([3], dtype=np.int64)
    dbuf, _ = pfor_pack_blocks(deltas, st0, en0)
    tbuf, _ = pfor_pack_blocks(tfs, st0, en0)
    d, t = decode_posting_block(bytes(dbuf), bytes(tbuf), codec="pfor", n=3)
    assert list(d) == [3, 7, 20] and list(t) == [1, 5, 2]


def test_pfor_exception_patching_shrinks_skewed_block():
    """One huge delta among 128 small values must become an exception patch
    instead of forcing the whole block to the outlier's width (VERDICT r04
    item 4). Unpatched FOR would need 128 * 40 bits = 640 payload bytes;
    patched needs ~128 * 3 bits + one patch."""
    from engine.codecs import pfor_pack_blocks, pfor_unpack_blocks

    vals = np.full(128, 5, dtype=np.uint64)
    vals[70] = np.uint64(1) << np.uint64(40)
    st = np.array([0], dtype=np.int64)
    en = np.array([128], dtype=np.int64)
    buf, lens = pfor_pack_blocks(vals, st, en)
    unpatched_bytes = 2 + (128 * 41 + 7) // 8  # block-max width layout
    assert lens[0] < unpatched_bytes / 5  # patching wins by a wide margin
    raw = np.frombuffer(buf, dtype=np.uint8)
    assert raw[1] == 1  # exactly one exception recorded
    assert np.array_equal(
        pfor_unpack_blocks([buf], np.array([128], dtype=np.int64)), vals
    )


def test_pfor_uniform_block_keeps_zero_exceptions():
    """A block whose values are all the same width must pick the unpatched
    candidate (cost tie goes to zero exceptions)."""
    from engine.codecs import pfor_pack_blocks

    vals = np.arange(100, 228, dtype=np.uint64)  # all 8-bit
    buf, lens = pfor_pack_blocks(
        vals, np.array([0], dtype=np.int64), np.array([128], dtype=np.int64)
    )
    raw = np.frombuffer(buf, dtype=np.uint8)
    assert raw[0] == 8 and raw[1] == 0
    assert lens[0] == 2 + 128  # header + 128 bytes at width 8


def test_pfor_corrupt_exception_section_rejected():
    from engine.codecs import pfor_pack_blocks, pfor_unpack_blocks

    vals = np.full(64, 3, dtype=np.uint64)
    vals[10] = np.uint64(1) << np.uint64(50)
    buf, lens = pfor_pack_blocks(
        vals, np.array([0], dtype=np.int64), np.array([64], dtype=np.int64)
    )
    # truncate the high-bits varint tail: declared exception can't decode
    with pytest.raises(ValueError, match="corruption"):
        pfor_unpack_blocks([buf[:-1]], np.array([64], dtype=np.int64))
    # corrupt the position byte to point past the block
    bad = bytearray(buf)
    raw = np.frombuffer(buf, dtype=np.uint8)
    payload = (64 * int(raw[0]) + 7) // 8
    bad[2 + payload] = 200  # position 200 >= n=64
    with pytest.raises(ValueError, match="corruption"):
        pfor_unpack_blocks([bytes(bad)], np.array([64], dtype=np.int64))
