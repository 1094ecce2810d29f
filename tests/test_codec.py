import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_spark.index.codec import (
    delta_varint_decode,
    delta_varint_encode,
    varint_decode,
    varint_encode,
)


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0
    assert delta_varint_encode(np.array([], dtype=np.int64)) == b""


def test_known_values():
    vals = np.array([0, 1, 127, 128, 300, 2**31, 2**63 - 1], dtype=np.uint64)
    assert list(varint_decode(varint_encode(vals))) == list(vals)
    # single-byte values encode to one byte each
    assert len(varint_encode(np.array([0, 1, 127]))) == 3
    assert len(varint_encode(np.array([128]))) == 2


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert list(varint_decode(varint_encode(arr))) == vals


@given(st.sets(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(vals):
    arr = np.array(sorted(vals), dtype=np.int64)
    out = delta_varint_decode(delta_varint_encode(arr))
    assert list(out.astype(np.int64)) == sorted(vals)


def test_delta_compression_wins():
    # dense sorted ids: gaps are tiny → ~1 byte per id regardless of magnitude
    ids = np.arange(10**9, 10**9 + 10_000, dtype=np.int64)
    enc = delta_varint_encode(ids)
    assert len(enc) < 10_000 + 10  # first abs value + 1 byte per gap


def test_vectorized_block_encoder_byte_identical_to_reference():
    """_encode_blocks_vec (production, one vectorized cut per batch) must
    produce the same blocks as the per-block reference encoder for every
    column, including nested positions/payloads, on a sliced input table
    (the streaming carry hands the encoder slices) and on sparse doc ids
    whose offsets would overflow int32 inside one block."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from solr_spark.index.build import _encode_blocks_vec, _encode_group_rows

    rng = np.random.default_rng(42)
    rows = []
    for term in ["alpha", "beta", "gamma", "sparse"]:
        for salt in ([0, 1] if term == "beta" else [0]):
            n = int(rng.integers(1, 300))
            if term == "sparse":
                doc_ids = np.sort(rng.choice(np.arange(10**4), size=n, replace=False)) * 10**8
            else:
                doc_ids = np.sort(rng.choice(np.arange(10_000), size=n, replace=False))
            for d in doc_ids:
                tf = int(rng.integers(1, 5))
                positions = np.sort(
                    rng.choice(np.arange(500), size=tf, replace=False)
                ).tolist()
                payloads = [int(x) for x in rng.integers(0, 8, tf)]
                rows.append((term, salt, int(d), tf, int(rng.integers(tf, 600)),
                             positions, payloads))
    head = pd.DataFrame(
        [("aaa", 0, 1, 1, 1, [0], [0])] * 7,
        columns=["term", "salt", "doc_id", "tf", "doc_len", "positions", "payloads"],
    )
    pdf = pd.DataFrame(
        rows, columns=["term", "salt", "doc_id", "tf", "doc_len", "positions", "payloads"]
    )
    ref = _encode_group_rows(pdf, block_size=64, with_positions=True, with_payloads=True)
    assert (ref["term"] == "sparse").sum() > (ref["term"] == "alpha").sum()
    tbl = pa.Table.from_pandas(
        pd.concat([head, pdf], ignore_index=True), preserve_index=False
    ).combine_chunks().slice(len(head))
    got = _encode_blocks_vec(tbl, 64, True, True)
    assert got.to_pylist() == ref.to_dict("records")
    assert max(max(x) for x in got.column("doc_offsets").to_pylist()) < 2**31
