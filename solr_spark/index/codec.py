"""Delta-coded docID gaps + LEB128 varint — the build's exchange codec.

This is the public Lucene posting-list design (delta-coded monotone docIDs,
variable-byte/FOR packing — see e.g. the Lucene postings format docs; the
reference selects codecs per field via Solr ``core/SchemaCodecFactory.java:
102-119``) re-derived from first principles for an Arrow/numpy world. The
index build packs each per-(term, salt) posting run it shuffles with it
and decodes the runs on the reducer; the written posting blocks are plain
Parquet int arrays, not varint bytes. The exchange uses three functions:

- :func:`varint_encode_segmented` (mapper, ``build._pack_runs_arrow``):
  one pass over a whole region, framed per run; doc ids and positions go
  in as gaps whose first value per run (per doc, for positions) is
  absolute;
- :func:`positions_decode` (reducer, ``build._runs_to_postings_tbl``):
  the segmented-delta inverse, resetting at every run;
- :func:`varint_decode` (reducer): the plain streams (tf, dl, payloads).

Everything here is numpy-vectorized — the encode/decode loops iterate over
BYTE POSITIONS (≤10) not over values, so cost is O(10) numpy kernels per
run regardless of run length. No per-row Python (input-hint mandate).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def _varint_sizes(values: np.ndarray) -> np.ndarray:
    """Bytes needed per value (LEB128): max(1, ceil(bit_length/7))."""
    v = values.astype(np.uint64, copy=False)
    # bit length via comparisons (vectorized ladder, 10 steps max)
    sizes = np.ones(len(v), dtype=np.int64)
    threshold = np.uint64(1 << 7)
    for n in range(2, _MAX_VARINT_BYTES + 1):
        mask = v >= threshold
        if not mask.any():
            break
        sizes[mask] = n
        if n < _MAX_VARINT_BYTES:
            threshold = np.uint64(1) << np.uint64(7 * n)
    return sizes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array → bytes (one segment of
    :func:`varint_encode_segmented`)."""
    return varint_encode_segmented(values, np.zeros(0, dtype=np.int64))[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    terminal = (b & 0x80) == 0
    n_values = int(terminal.sum())
    # group index of each byte: 0-based id of the value it belongs to
    group = np.zeros(len(b), dtype=np.int64)
    group[1:] = np.cumsum(terminal)[:-1]
    # position of each byte within its group
    starts = np.zeros(n_values, dtype=np.int64)
    starts[1:] = np.flatnonzero(terminal)[:-1] + 1
    pos = np.arange(len(b), dtype=np.int64) - starts[group]
    vals = np.zeros(n_values, dtype=np.uint64)
    payload = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    np.add.at(vals, group, payload)
    return vals


def positions_decode(buf: bytes, lens: np.ndarray) -> np.ndarray:
    """Decode concatenated per-run delta-coded values (Lucene ``.prx``
    style: each of the ``lens``-long runs has its first value absolute,
    the rest as gaps) → the flat absolute array (segmented cumsum; split
    by the caller with ``lens``)."""
    deltas = varint_decode(buf)
    if len(deltas) == 0:
        return deltas
    lens = np.asarray(lens, dtype=np.int64)
    total = np.cumsum(deltas, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    starts = starts[lens > 0]
    # subtract, from every element of run g, the running total just
    # before the run (the absolute first element already includes it)
    base = np.zeros(len(deltas), dtype=np.uint64)
    base[starts[1:]] = total[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return total - base


def varint_encode_segmented(
    values: np.ndarray, seg_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """LEB128-encode ``values`` in ONE vectorized pass and return
    ``(buffer, byte_offsets)`` where ``byte_offsets[i]:byte_offsets[i+1]``
    frames segment i (segments begin at value indexes ``seg_starts``).

    LEB128 is per-value independent, so a segment's bytes are exactly
    that segment encoded alone — this is the batch form the exchange
    packer uses to replace tens of thousands of tiny per-run numpy calls
    with one pass over the whole Arrow batch.
    """
    v = np.asarray(values, dtype=np.uint64)
    seg_starts = np.asarray(seg_starts, dtype=np.int64)
    if len(v) == 0:
        return b"", np.zeros(len(seg_starts) + 1, dtype=np.int64)
    sizes = _varint_sizes(v)
    ends = np.cumsum(sizes)
    offsets = ends - sizes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_size = int(sizes.max())
    for j in range(max_size):
        mask = sizes > j
        byte = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (sizes[mask] > j + 1).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte.astype(np.uint8) | cont
    seg_offs = np.empty(len(seg_starts) + 1, dtype=np.int64)
    seg_offs[:-1] = offsets[seg_starts]
    seg_offs[-1] = int(ends[-1])
    return out.tobytes(), seg_offs
