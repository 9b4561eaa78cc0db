"""Vectorized k-way merge of sorted runs (the fast production path).

Design: the reference's OVC insight — "make almost every comparison a
single machine-integer compare" (reference ``README.md:4-5``) — is
realized vectorized: key columns are normalized to order-preserving
``uint64`` codes (``keys.py``) and, when the total key width fits, packed
into ONE uint64 per row.  Merging two sorted uint64 arrays then needs no
per-row Python at all: one stable ``np.argsort`` of their concatenation
(timsort, which finds the two sorted runs and merges them in one linear
pass) gives the merge order, and k runs merge via a binary tournament of
pairwise merges, smallest ADJACENT pair first (reference ``HDD.cpp:14-27``
smallest-first policy, restricted to run-ordinal neighbours so equal
keys provably resolve in run order — ``TreeOfLosers.cpp:36`` earlier-
leaf-wins), i.e. O(n log k) total work at NumPy/C speed.

Falls back to a stable ``np.lexsort`` over the (n, k) key matrix when
keys cannot pack into 64 bits.  String keys reach these paths as exact
dense ranks (``key_matrix_table(..., string_ranks=True)``); keys with no
exact integer code are merged by the caller with Arrow's collation sort
(``pyarrow.compute.sort_indices``).
"""

from __future__ import annotations

import numpy as np


def merge2_positions(ka: np.ndarray, kb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Output positions for the stable merge of two sorted key arrays.

    The merge order is one stable argsort of the concatenation, which
    numpy runs as timsort on 64-bit keys: it finds the two sorted runs
    and merges them in one linear pass.  Inverting that permutation
    gives each row's output slot.

    Ties: all of ``ka``'s rows come before ``kb``'s (run order = tie
    order, like the reference tree where the earlier leaf wins equal
    matches, reference ``TreeOfLosers.cpp:36``) — the same positions as
    ``arange + searchsorted(kb, ka, "left")`` and
    ``arange + searchsorted(ka, kb, "right")``.
    """
    order = np.argsort(np.concatenate([ka, kb]), kind="stable")
    pos = np.empty(len(order), dtype=np.int64)
    pos[order] = np.arange(len(order), dtype=np.int64)
    return pos[: len(ka)], pos[len(ka) :]


def merge2_compare_counts(
    ka: np.ndarray, kb: np.ndarray, pos_a: np.ndarray, pos_b: np.ndarray
) -> tuple[int, int]:
    """(ovc, col) comparison counts of the sequential 2-way merge whose
    output the merge path computed — counted vectorized, from the one
    production merge (no shadow sort; cf. reference ``Sort.cpp:90-100``
    which prints its counters from the single production sort).

    Model: the classic streaming merge compares the two run heads once
    per emitted element while BOTH runs are non-empty; elements emitted
    after one run exhausts are free copies.  The merge path gives each
    element's opponent in closed form — when A[i] is emitted, B's head
    is B[pos_a[i] - i]; when B[j] is emitted, A's head is A[pos_b[j] - j]
    (an out-of-range opponent == the other run was already exhausted).

    A comparison whose packed codes DIFFER resolves with one machine-
    integer compare — the OVC promise (reference ``README.md:4-5``) —
    and counts as ``ovc``.  Equal packed codes mean the code alone could
    not order the pair (a full-key tie for exact packings): the
    reference falls through to comparing the remaining key columns
    (``TreeOfLosers.cpp:217-241``); those events count as ``col``.
    Equal-code events can only arise on the A side — B is emitted only
    when strictly smaller (ties go to A).
    """
    oa = pos_a - np.arange(len(ka), dtype=np.int64)
    va = oa < len(kb)
    col = int((ka[va] == kb[oa[va]]).sum())
    ob = pos_b - np.arange(len(kb), dtype=np.int64)
    total = int(va.sum()) + int((ob < len(ka)).sum())
    return total - col, col


def merge_runs_packed(
    run_keys: list[np.ndarray], counters: dict | None = None
) -> np.ndarray:
    """Merge k sorted packed-uint64 runs; returns gather indices into the
    virtual concatenation of the runs (in list order).

    Binary tournament, smallest pair first.  Comparisons per element are
    O(log k) like a tree of losers, but executed as whole-array linear
    merges instead of per-row matches.

    ``counters``: optional ``{"ovc": int, "col": int}`` dict accumulated
    in place with the comparison counts of every pairwise merge step
    (``merge2_compare_counts``) — the production path's equivalent of
    the reference tree's instrumentation, at ~zero cost.
    """
    k = len(run_keys)
    if k == 0:
        return np.zeros(0, dtype=np.int64)
    # global index ranges of each run within the concatenated payload
    offsets = np.cumsum([0] + [len(r) for r in run_keys])
    entries = [
        (run_keys[i], np.arange(offsets[i], offsets[i + 1], dtype=np.int64))
        for i in range(k)
    ]
    # Smallest-ADJACENT-pair-first tournament.  Restricting each merge
    # to ordinal-adjacent entries keeps every intermediate entry a
    # contiguous run-ordinal interval, so the A side of every pairwise
    # merge covers strictly smaller ordinals than the B side — with
    # merge2's ties-go-to-A rule, the whole tournament is provably
    # RUN-ORDER STABLE for equal keys (the reference tree's earlier-
    # leaf-wins semantics, TreeOfLosers.cpp:36), not merely
    # deterministic.  Cheapest-merges-early is preserved (HDD.cpp:14-27
    # smallest-first spirit); cost stays O(n log k).
    while len(entries) > 1:
        j = min(
            range(len(entries) - 1),
            key=lambda i: len(entries[i][0]) + len(entries[i + 1][0]),
        )
        (ka, ia), (kb, ib) = entries[j], entries[j + 1]
        pa_, pb_ = merge2_positions(ka, kb)
        if counters is not None:
            ovc, col = merge2_compare_counts(ka, kb, pa_, pb_)
            counters["ovc"] = counters.get("ovc", 0) + ovc
            counters["col"] = counters.get("col", 0) + col
        n = len(ka) + len(kb)
        keys = np.empty(n, dtype=ka.dtype)
        idx = np.empty(n, dtype=np.int64)
        keys[pa_] = ka
        keys[pb_] = kb
        idx[pa_] = ia
        idx[pb_] = ib
        entries[j : j + 2] = [(keys, idx)]
    return entries[0][1]


def merge_runs_matrix(run_mats: list[np.ndarray]) -> np.ndarray:
    """Merge k sorted runs given (n_i, c) uint64 key matrices.

    Stable lexsort over the concatenation (runs listed in order keeps
    ties in run order).  O(n log n) but fully vectorized; used when keys
    don't pack into a single uint64.
    """
    if not run_mats:
        return np.zeros(0, dtype=np.int64)
    mat = np.vstack(run_mats)
    if mat.shape[1] == 0:
        return np.arange(mat.shape[0], dtype=np.int64)
    order = np.lexsort(tuple(mat[:, j] for j in range(mat.shape[1] - 1, -1, -1)))
    return order.astype(np.int64)
