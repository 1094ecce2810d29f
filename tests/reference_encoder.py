"""Per-block reference encoder the block-build tests compare the
production encoder against (``solr_spark.index.build._encode_blocks_vec``
and the run-packed blocks exchange)."""

import numpy as np
import pandas as pd

from solr_spark.index.build import _BLOCK_COLS, _INT32_MAX


def encode_group_rows(
    pdf: pd.DataFrame, block_size: int, with_positions: bool, with_payloads: bool = False
) -> pd.DataFrame:
    """REFERENCE implementation (per-block loop) for the equivalence
    tests of ``_encode_blocks_vec`` and of the whole blocks exchange —
    the production path is the vectorized Arrow encoder in
    ``solr_spark/index/build.py``.

    Cut a run of (term, salt, doc_id)-sorted postings into blocks of
    plain Python int lists: a new block every ``block_size`` docs into the
    group, and also wherever the next doc offset would pass the int32
    range.
    ``positions``/``payloads`` hold one list per doc, None when the index
    is built without them.
    """
    t = pdf["term"].to_numpy()
    s = pdf["salt"].to_numpy()
    doc = pdf["doc_id"].to_numpy()
    tf = pdf["tf"].to_numpy()
    dl = pdf["doc_len"].to_numpy()
    change = np.empty(len(t), dtype=bool)
    change[0] = True
    change[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
    g_starts = np.flatnonzero(change)
    g_ends = np.append(g_starts[1:], len(t))

    def _lists(col, lo, hi):
        return [[int(x) for x in v] for v in pdf[col].iloc[lo:hi]]

    rows = []
    for gs, ge in zip(g_starts, g_ends):
        cuts = [gs]
        for i in range(gs + 1, ge):
            if (i - gs) % block_size == 0 or int(doc[i]) - int(doc[cuts[-1]]) > _INT32_MAX:
                cuts.append(i)
        for b, (lo, hi) in enumerate(zip(cuts, cuts[1:] + [ge])):
            ids = [int(d) for d in doc[lo:hi]]
            rows.append(
                (
                    t[gs], int(s[gs]), b, hi - lo, ids[0], ids[-1],
                    int(tf[lo:hi].max()), int(dl[lo:hi].min()),
                    [d - ids[0] for d in ids],
                    [int(x) for x in tf[lo:hi]],
                    [int(x) for x in dl[lo:hi]],
                    _lists("positions", lo, hi) if with_positions else None,
                    _lists("payloads", lo, hi) if with_payloads else None,
                )
            )
    return pd.DataFrame(rows, columns=_BLOCK_COLS)
