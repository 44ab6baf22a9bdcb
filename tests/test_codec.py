from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_spark.index.codec import (
    decode_block,
    decode_varint,
    dequantize_weights,
    encode_blocks,
    encode_varint,
    quantize_weights,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(arr)), arr)


def test_varint_known_bytes():
    # classic LEB128: 300 = 0xAC 0x02
    assert encode_varint(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert encode_varint(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.floats(min_value=0.0, max_value=20.0, allow_nan=False),
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings):
    docs = np.array([p[0] for p in postings], dtype=np.int64)
    weights = np.array([p[1] for p in postings])
    scale = 255.0 / 20.0
    blocks = encode_blocks(docs, weights, scale, block_size=128)
    got_docs, got_w = [], []
    for (bid, first, last, n, dbytes, wbytes, bmax) in blocks:
        d, w = decode_block(first, n, dbytes, wbytes, scale)
        assert d[0] == first and d[-1] == last and len(d) == n
        # block_max is in the quantized int domain (matches encode_groups
        # and POSTINGS_SCHEMA's 'block_max int')
        assert isinstance(bmax, int)
        assert abs(w.max() - bmax / scale) < 1e-12
        got_docs.append(d)
        got_w.append(w)
    got_docs = np.concatenate(got_docs)
    got_w = np.concatenate(got_w)
    order = np.argsort(docs, kind="stable")
    assert np.array_equal(got_docs, docs[order])
    expected_w = dequantize_weights(quantize_weights(weights[order], scale), scale)
    assert np.allclose(got_w, expected_w)
    # docID-ascending across blocks
    assert np.all(np.diff(got_docs) > 0)


@given(st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(values):
    from splade_spark.index.codec import decode_for, encode_for

    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_for(encode_for(arr), len(arr)), arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.floats(min_value=0.0, max_value=20.0, allow_nan=False),
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_encode_groups_for_equals_varint(postings):
    """encode_groups with codec='for' decodes to the same postings as
    codec='varint' (only doc_bytes representation differs)."""
    from splade_spark.index.codec import encode_groups

    docs = np.sort(np.array([p[0] for p in postings], dtype=np.int64))
    weights = np.array([p[1] for p in postings])
    shard = np.zeros(len(docs), dtype=np.int64)
    term = np.zeros(len(docs), dtype=np.int64)
    scale = 255.0 / 20.0
    decoded = {}
    for codec in ("varint", "for"):
        g = encode_groups(shard, term, docs,
                          quantize_weights(weights, scale),
                          block_size=64, codec=codec)
        dd, ww = [], []
        for fd, n, db, wb in zip(g["first_doc"], g["n"],
                                 g["doc_bytes"], g["w_bytes"]):
            d, w = decode_block(fd, n, db, wb, scale, codec=codec)
            dd.append(d)
            ww.append(w)
        decoded[codec] = (np.concatenate(dd), np.concatenate(ww))
    assert np.array_equal(decoded["varint"][0], decoded["for"][0])
    assert np.array_equal(decoded["varint"][1], decoded["for"][1])


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=130),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=150, deadline=None)
def test_encode_for_blocks_matches_per_block(blocks):
    """The vectorized width-class packer must be byte-identical to the
    reference per-block encode_for (same wire format, decode_for-safe)."""
    from splade_spark.index.codec import decode_for, encode_for, encode_for_blocks

    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    dvals = np.array([v for b in blocks for v in b], dtype=np.uint64)
    cum = np.concatenate(([0], np.cumsum(counts)))
    fast = encode_for_blocks(dvals, cum)
    for i, b in enumerate(blocks):
        assert fast[i] == encode_for(np.array(b, dtype=np.uint64))
        assert np.array_equal(
            decode_for(fast[i], len(b)), np.array(b, dtype=np.uint64)
        )


def test_decode_block_raw_integer_parity():
    """decode_block_raw returns the quantized int64 weights the WAND kernel
    scores with — dividing by scale must reproduce decode_block exactly."""
    from splade_spark.index.codec import decode_block_raw, encode_for

    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(10**6, size=300, replace=False)).astype(np.int64)
    weights = rng.uniform(0.01, 20.0, size=300)
    scale = 255.0 / 20.0
    for codec in ("varint", "for"):
        for (bid, first, last, n, dbytes, wbytes, bmax) in encode_blocks(
            docs, weights, scale, block_size=128
        ):
            if codec == "for":
                # encode_blocks always emits varint doc deltas; re-pack
                # them as FOR so this leg drives BOTH decoders' FOR branch
                d0, _ = decode_block(first, n, dbytes, wbytes, scale)
                dbytes = encode_for(np.diff(d0).astype(np.uint64))
            d1, w1 = decode_block(first, n, dbytes, wbytes, scale, codec=codec)
            d2, q2 = decode_block_raw(first, n, dbytes, wbytes, codec=codec)
            assert q2.dtype == np.int64
            assert np.array_equal(d1, d2)
            assert np.array_equal(w1, q2 / scale)


def test_quantize_bits_guard():
    """bits > 16 would wrap in uint16 and decode as garbage — must raise,
    both at quantize time and when read back from index meta."""
    import json

    from splade_spark.index.build import read_index_meta
    from splade_spark.index.codec import check_bits

    for bad in (0, 17, 32, -1):
        with np.testing.assert_raises(ValueError):
            quantize_weights(np.array([1.0]), 10.0, bits=bad)
        with np.testing.assert_raises(ValueError):
            check_bits(bad)
    for ok in (1, 8, 16):
        quantize_weights(np.array([1.0]), 10.0, bits=ok)
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "_index_meta.json"), "w") as fh:
            json.dump({"scale": 1.0, "num_shards": 1, "bits": 32}, fh)
        with np.testing.assert_raises(ValueError):
            read_index_meta(d)
