"""Vectorized k-way merge of sorted runs (the fast production path).

Design: the reference's OVC insight — "make almost every comparison a
single machine-integer compare" (reference ``README.md:4-5``) — is
realized vectorized: key columns are normalized to order-preserving
``uint64`` codes (``keys.py``) and, when the total key width fits, packed
into ONE uint64 per row.  A merge step then needs no per-row Python at
all: one stable ``np.argsort`` of the concatenated runs (timsort, which
finds the k sorted runs and merges them in C) gives the merge order, and
listing the runs in order makes equal keys come out in run order — the
reference tree's earlier-leaf-wins rule (``TreeOfLosers.cpp:36``).

The comparison counters are those of a binary tournament of sequential
2-way merges, smallest ADJACENT pair first (reference ``HDD.cpp:14-27``
smallest-first policy, restricted to run-ordinal neighbours).  Which
runs pair up depends only on run lengths, so the tournament is
simulated on the lengths and each pairing's compares are derived in
closed form from the run boundaries and the equal-key groups of the one
sorted output — no pairwise merge is executed.

Falls back to a stable ``np.lexsort`` over the (n, k) key matrix when
keys cannot pack into 64 bits.  String keys reach these paths as exact
dense ranks (``key_matrix_table(..., string_ranks=True)``); keys with no
exact integer code are merged by the caller with Arrow's collation sort
(``pyarrow.compute.sort_indices``).
"""

from __future__ import annotations

import numpy as np


def _tournament_steps(lens: list[int]) -> list[tuple[int, int, int]]:
    """The pairings ``(l, m, h)`` of the smallest-adjacent-pair-first
    tournament over runs of the given lengths, in merge order: each step
    merges A = runs ``[l, m)`` with B = runs ``[m, h)``.  The first
    minimal adjacent pair wins ties."""
    entries = [(i, i + 1, n) for i, n in enumerate(lens)]
    steps = []
    while len(entries) > 1:
        j = min(
            range(len(entries) - 1),
            key=lambda i: entries[i][2] + entries[i + 1][2],
        )
        (l, m, na), (_, h, nb) = entries[j], entries[j + 1]
        steps.append((l, m, h))
        entries[j : j + 2] = [(l, h, na + nb)]
    return steps


def _tournament_counts(
    run_keys: list[np.ndarray], order: np.ndarray, ordered: np.ndarray
) -> tuple[int, int]:
    """(ovc, col) compares of the adjacent-pair tournament of sequential
    2-way merges, from the single sorted output.

    Model: a streaming 2-way merge compares the two heads once per
    emitted row while BOTH sides are non-empty; ties go to A.  So a row
    of A is compared iff it is <= max(B), a row of B iff it is < max(A),
    and a compare meets an equal key (``col``: the packed code alone
    cannot order the pair, reference ``TreeOfLosers.cpp:217-241``) iff
    the A row's key also occurs in B.  Every other compare resolves on
    the one integer code (``ovc``, the OVC promise, ``README.md:4-5``).
    """
    lens = [len(r) for r in run_keys]
    steps = _tournament_steps(lens)
    tops = [r[-1] if len(r) else None for r in run_keys]
    total = 0
    for l, m, h in steps:
        top_a = max((t for t in tops[l:m] if t is not None), default=None)
        top_b = max((t for t in tops[m:h] if t is not None), default=None)
        if top_a is None or top_b is None:
            continue  # one side is empty: every row is a free copy
        total += sum(int(np.searchsorted(r, top_b, "right")) for r in run_keys[l:m])
        total += sum(int(np.searchsorted(r, top_a, "left")) for r in run_keys[m:h])
    # col: only rows in equal-key groups of the sorted output can tie
    eq = ordered[1:] == ordered[:-1]
    if not eq.any():
        return total, 0
    in_group = np.zeros(len(ordered), dtype=bool)
    in_group[1:] = eq
    in_group[:-1] |= eq
    rows = np.flatnonzero(in_group)
    # consecutive group rows share a key unless a different key sits between
    group = np.concatenate([[0], np.cumsum(~eq[rows[1:] - 1])])
    run = np.searchsorted(np.cumsum(lens), order[rows], "right")
    # one entry per (group, run) pair: the stable sort leaves rows
    # ordered by group, then run
    first = np.flatnonzero(
        np.concatenate([[True], (group[1:] != group[:-1]) | (run[1:] != run[:-1])])
    )
    count = np.diff(np.append(first, len(rows)))
    group, run = group[first], run[first]
    col = 0
    for l, m, h in steps:
        in_b = np.zeros(int(group[-1]) + 1, dtype=bool)
        in_b[group[(run >= m) & (run < h)]] = True
        col += int(count[in_b[group] & (run >= l) & (run < m)].sum())
    return total - col, col


def merge_runs_packed(
    run_keys: list[np.ndarray], counters: dict | None = None
) -> np.ndarray:
    """Merge k sorted packed-uint64 runs; returns gather indices into the
    virtual concatenation of the runs (in list order).

    One stable sort of the concatenation: equal keys keep run order,
    then within-run order.

    ``counters``: optional ``{"ovc": int, "col": int}`` dict accumulated
    in place with the comparison counts of the adjacent-pair tournament
    of 2-way merges (``_tournament_counts``), derived in closed form
    from the run boundaries and the equal-key groups of the one sort —
    the production path's equivalent of the reference tree's
    instrumentation.
    """
    if len(run_keys) < 2:  # nothing to merge, nothing to count
        return np.arange(sum(len(r) for r in run_keys), dtype=np.int64)
    keys = np.concatenate(run_keys)
    order = np.argsort(keys, kind="stable")
    if counters is not None:
        ovc, col = _tournament_counts(run_keys, order, keys[order])
        counters["ovc"] = counters.get("ovc", 0) + ovc
        counters["col"] = counters.get("col", 0) + col
    return order


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
