import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_spark.index.codec import (
    positions_decode,
    varint_decode,
    varint_encode,
    varint_encode_segmented,
)


def _gap_encode(runs: list[list[int]]) -> tuple[np.ndarray, np.ndarray]:
    """The exchange packer's framing: each run's first value absolute, the
    rest as gaps; returns (flat gaps, run start indexes)."""
    flat = np.array([v for r in runs for v in r], dtype=np.int64)
    starts = np.cumsum([0] + [len(r) for r in runs[:-1]]).astype(np.int64)
    gaps = np.empty(len(flat), dtype=np.int64)
    if len(flat):
        gaps[0] = flat[0]
        gaps[1:] = flat[1:] - flat[:-1]
        gaps[starts] = flat[starts]
    return gaps, starts


def test_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0
    buf, offs = varint_encode_segmented(np.array([], dtype=np.int64), np.array([], dtype=np.int64))
    assert buf == b"" and list(offs) == [0]
    assert len(positions_decode(b"", np.array([], dtype=np.int64))) == 0


def test_known_values():
    vals = np.array([0, 1, 127, 128, 300, 2**31, 2**63 - 1], dtype=np.uint64)
    assert list(varint_decode(varint_encode(vals))) == list(vals)
    # single-byte values encode to one byte each
    assert len(varint_encode(np.array([0, 1, 127]))) == 3
    assert len(varint_encode(np.array([128]))) == 2


_runs = st.lists(
    st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=1, max_size=60),
    max_size=20,
)


@given(_runs)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(runs):
    """Segmented encode → varint_decode (the tf/dl/payload streams): the
    whole buffer decodes to the concatenation and each framed segment
    decodes to its own run."""
    flat = np.array([v for r in runs for v in r], dtype=np.uint64)
    starts = np.cumsum([0] + [len(r) for r in runs[:-1]]).astype(np.int64)
    buf, offs = varint_encode_segmented(flat, starts[: len(runs)])
    assert list(varint_decode(buf)) == [v for r in runs for v in r]
    assert len(offs) == len(runs) + 1 and offs[-1] == len(buf)
    for r, lo, hi in zip(runs, offs[:-1], offs[1:]):
        assert list(varint_decode(buf[lo:hi])) == r


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=60),
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(runs):
    """Per-run gap coding → segmented encode → positions_decode (the doc
    id and position streams): every run restarts from its absolute first
    value, so the decode must reset its running sum at each run."""
    runs = [sorted(r) for r in runs]
    gaps, starts = _gap_encode(runs)
    buf, _ = varint_encode_segmented(gaps, starts)
    lens = np.array([len(r) for r in runs], dtype=np.int64)
    out = positions_decode(buf, lens)
    assert list(out.astype(np.int64)) == [v for r in runs for v in r]


def test_delta_compression_wins():
    # dense sorted ids: gaps are tiny → ~1 byte per id regardless of magnitude
    ids = np.arange(10**9, 10**9 + 10_000, dtype=np.int64)
    gaps, starts = _gap_encode([ids.tolist()])
    buf, _ = varint_encode_segmented(gaps, starts)
    assert len(buf) < 10_000 + 10  # first abs value + 1 byte per gap


def test_vectorized_block_encoder_byte_identical_to_reference():
    """_encode_blocks_vec (production, one vectorized cut per batch) must
    produce the same blocks as the per-block reference encoder for every
    column, including nested positions/payloads, on a sliced input table
    (the streaming carry hands the encoder slices) and on sparse doc ids
    whose offsets would overflow int32 inside one block."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from solr_spark.index.build import _encode_blocks_vec
    from tests.reference_encoder import encode_group_rows

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
    ref = encode_group_rows(pdf, block_size=64, with_positions=True, with_payloads=True)
    assert (ref["term"] == "sparse").sum() > (ref["term"] == "alpha").sum()
    tbl = pa.Table.from_pandas(
        pd.concat([head, pdf], ignore_index=True), preserve_index=False
    ).combine_chunks().slice(len(head))
    got = _encode_blocks_vec(tbl, 64, True, True)
    assert got.to_pylist() == ref.to_dict("records")
    assert max(max(x) for x in got.column("doc_offsets").to_pylist()) < 2**31
