"""Unit + property tests for the posting codec (SURVEY.md §5.1/§5.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gxdindexer_spark.functions import bm25
from gxdindexer_spark.functions.codec import (
    delta_decode,
    delta_encode,
    encode_postings,
    posting_list_from_row,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**35, 2**56], dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(vals)), vals)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(arr)), arr)


def test_delta_roundtrip():
    ids = np.array([3, 4, 10, 11, 500, 10**12], dtype=np.int64)
    assert np.array_equal(delta_decode(delta_encode(ids)), ids)


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode(np.array([5, 5], dtype=np.int64))


def _mk_postings(n, seed=0, block_size=16):
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(10 * n + 10, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    dls = rng.integers(10, 500, size=n).astype(np.uint64)
    tfn = bm25.tf_norm(tfs, dls.astype(np.float64), avgdl=120.0)
    row = encode_postings(ids, tfs, tfn, block_size=block_size, dls=dls)
    return ids, tfs, dls, tfn, row


def test_encode_postings_roundtrip_and_skip_pointers():
    ids, tfs, dls, tfn, row = _mk_postings(1000, block_size=128)
    pl = posting_list_from_row("t", row)
    assert pl.df == 1000
    d, t, l = pl.decode_all()
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    # per-block decode agrees and skip pointers bound the block
    for i in range(pl.n_blocks):
        bd, bt, bl = pl.decode_block(i)
        assert bd[0] == pl.block_first[i]
        assert bd[-1] == pl.block_last[i]
        lo = i * 128
        assert np.array_equal(bd, ids[lo : lo + 128])
        assert np.array_equal(bt, tfs[lo : lo + 128])
        assert np.array_equal(bl, dls[lo : lo + 128])
        # block-max bound is a true upper bound for every tfn in block
        assert pl.block_max_tfn[i] >= np.float32(tfn[lo : lo + 128].max()) - 1e-7


@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0, max_value=2**31),
)
def test_encode_postings_property(n, block_size, seed):
    ids, tfs, dls, _, row = _mk_postings(n, seed=seed, block_size=block_size)
    pl = posting_list_from_row("t", row)
    d, t, l = pl.decode_all()
    assert np.array_equal(d, ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert row["cf"] == int(tfs.sum())


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 400),
    st.integers(0, 10_000),
    st.data(),
)
def test_decode_blocks_matches_per_block(n, seed, data):
    """Batched selective decode == concatenation of per-block decodes
    for any ascending block subset."""
    _ids, _tfs, _dls, _tfn, row = _mk_postings(n, seed=seed, block_size=8)
    pl = posting_list_from_row("t", row)
    subset = sorted(
        data.draw(
            st.sets(
                st.integers(0, pl.n_blocks - 1),
                min_size=1,
                max_size=pl.n_blocks,
            )
        )
    )
    got = pl.decode_blocks(np.array(subset))
    parts = [pl.decode_block(b) for b in subset]
    for i in range(3):
        assert np.array_equal(got[i], np.concatenate([p[i] for p in parts]))
