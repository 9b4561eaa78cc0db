"""The kernel's former k-way merge, kept as the oracle for its successor.

``vmerge.merge_runs_packed`` used to build every internal node of a
binary tournament: smallest adjacent pair of runs first, each pair
merged by inverting one stable argsort of the two runs, and each pair's
comparisons counted from the merge path.  The production merge now does
one stable sort per merge step and derives the same counts in closed
form; this module keeps the tournament verbatim so tests can check that
the gather order and the ``(ovc, col)`` counts did not move.  The
functions themselves stay checked against the literal sequential 2-way
merge (``test_kernel_property``) and the ``searchsorted`` merge path
(``test_kernel_sort_merge_paths``).
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
    output the merge path computed.

    Model: the classic streaming merge compares the two run heads once
    per emitted element while BOTH runs are non-empty; elements emitted
    after one run exhausts are free copies.  The merge path gives each
    element's opponent in closed form — when A[i] is emitted, B's head
    is B[pos_a[i] - i]; when B[j] is emitted, A's head is A[pos_b[j] - j]
    (an out-of-range opponent == the other run was already exhausted).

    A comparison whose packed codes DIFFER counts as ``ovc``; equal
    packed codes count as ``col``.  Equal-code events can only arise on
    the A side — B is emitted only when strictly smaller (ties go to A).
    """
    oa = pos_a - np.arange(len(ka), dtype=np.int64)
    va = oa < len(kb)
    col = int((ka[va] == kb[oa[va]]).sum())
    ob = pos_b - np.arange(len(kb), dtype=np.int64)
    total = int(va.sum()) + int((ob < len(ka)).sum())
    return total - col, col


def merge_runs_tournament(
    run_keys: list[np.ndarray], counters: dict | None = None
) -> np.ndarray:
    """Merge k sorted packed-uint64 runs by the adjacent-pair tournament;
    returns gather indices into the virtual concatenation of the runs.

    ``counters``: optional ``{"ovc": int, "col": int}`` dict accumulated
    in place with the comparison counts of every pairwise merge step.
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
    # Smallest-ADJACENT-pair-first tournament: every entry stays a
    # contiguous run-ordinal interval, so the A side of every pairwise
    # merge covers strictly smaller ordinals than the B side, and with
    # ties going to A equal keys come out in run order.
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
