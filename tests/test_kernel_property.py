"""Property-based kernel fuzz: for ANY frame shape / budget / batch
geometry, the external sort must equal pandas' stable lexicographic
sort and preserve the witness invariants.

Complements the fixed reference matrix (test_kernel_reference_matrix)
with adversarial geometries hypothesis finds: budgets barely above the
batch size, single-row batches, all-duplicate domains, nullable keys,
mixed dtypes including strings that differ only past the 8-byte prefix
(the OVC prefix-code exactness boundary).
"""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import ExternalSorter


def _sort(tmpdir, frame, keys, mem, batch):
    sorter = ExternalSorter(
        key_cols=keys, spill_dir=tmpdir, memory_budget_rows=mem, batch_rows=batch
    )
    chunks = [frame.iloc[i : i + batch] for i in range(0, len(frame), batch)]
    out = list(sorter.sort(iter(chunks)))
    return (
        pd.concat(out, ignore_index=True) if out else frame.iloc[0:0]
    ), sorter.metrics


@settings(
    max_examples=40,
    deadline=None,
    derandomize=True,  # stable example set: CI/driver runs must not flake
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    n=st.integers(0, 400),
    domain=st.integers(1, 12),
    mem=st.integers(8, 128),
    batch=st.integers(1, 64),
    seed=st.integers(0, 2**31 - 1),
    with_null=st.booleans(),
)
def test_sort_matches_pandas_any_geometry(tmp_path_factory, n, domain, mem, batch, seed, with_null):
    rng = np.random.default_rng(seed)
    k = rng.integers(0, domain, n)
    frame = pd.DataFrame(
        {
            "k": pd.array(
                [None if with_null and (v % 5 == 0) else int(v) for v in k],
                dtype="Int64",
            ),
            # strings sharing an 8-byte prefix: exercises the prefix-code
            # exactness fallback
            "s": [f"prefix00{v % 3}{'x' * int(v % 4)}" for v in k],
            "payload": np.arange(n),
        }
    )
    keys = ["k", "s"]
    out, m = _sort(
        str(tmp_path_factory.mktemp("hyp")), frame, keys, mem, batch
    )
    exp = frame.sort_values(keys, na_position="first", kind="stable", ignore_index=True)
    assert len(out) == n and m.rows_in == n and m.rows_out in (0, n)
    if n:
        assert out["k"].equals(exp["k"])
        assert out["s"].tolist() == exp["s"].tolist()
        # content preservation (multiset equality incl payload)
        assert sorted(out["payload"]) == list(range(n))


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    a=st.lists(st.integers(0, 30), max_size=60),
    b=st.lists(st.integers(0, 30), max_size=60),
)
def test_merge2_compare_counts_match_sequential_merge(a, b):
    """The vectorized merge-path counters must equal the literal
    streaming 2-way merge: one compare per pop while both runs are
    non-empty; ties go to run A and count as 'col' (code tie).  These
    counters are the oracle that ``vmerge.merge_runs_packed``'s closed
    form is checked against (``test_kernel_sort_merge_paths``)."""
    from merge_oracle import merge2_compare_counts, merge2_positions

    ka = np.sort(np.asarray(a, dtype=np.uint64))
    kb = np.sort(np.asarray(b, dtype=np.uint64))
    pa_, pb_ = merge2_positions(ka, kb)
    got_ovc, got_col = merge2_compare_counts(ka, kb, pa_, pb_)
    # reference simulation
    i = j = ovc = col = 0
    while i < len(ka) and j < len(kb):
        if ka[i] == kb[j]:
            col += 1
            i += 1  # tie -> A first
        elif ka[i] < kb[j]:
            ovc += 1
            i += 1
        else:
            ovc += 1
            j += 1
    assert (got_ovc, got_col) == (ovc, col)
    # and the merge itself is the stable interleave
    n = len(ka) + len(kb)
    out = np.empty(n, dtype=np.uint64)
    out[pa_] = ka
    out[pb_] = kb
    assert (np.sort(np.concatenate([ka, kb])) == out).all()


@settings(
    max_examples=80,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    lens=st.lists(st.integers(0, 40), min_size=1, max_size=9),
    domain=st.integers(1, 4),  # tiny domains -> duplicate-heavy ties
    seed=st.integers(0, 2**31 - 1),
)
def test_merge_runs_packed_run_order_stable(lens, domain, seed):
    """Leaf-order stability through the whole tournament (reference
    TreeOfLosers.cpp:36 earlier-leaf-wins semantics): for ANY run count,
    adversarially skewed run lengths, and duplicate-heavy keys, the
    gather order returned by merge_runs_packed must equal the STABLE
    argsort of the runs' concatenation — i.e. equal keys come out in
    run order, and in within-run order inside each run.  This is the
    structural guarantee of the adjacent-pair tournament (every merge's
    A side covers strictly smaller run ordinals), not a tie-luck
    artifact — hypothesis drives run-length patterns that made the old
    smallest-first pairing interleave non-adjacent ordinal sets."""
    from external_merge_sort_loser_tree_ovc_spark.kernel import vmerge

    rng = np.random.default_rng(seed)
    runs = [
        np.sort(rng.integers(0, domain, n).astype(np.uint64)) for n in lens
    ]
    counters = {}
    idx = vmerge.merge_runs_packed(runs, counters)
    concat = np.concatenate(runs) if runs else np.zeros(0, dtype=np.uint64)
    expect = np.argsort(concat, kind="stable")
    assert (idx == expect).all(), (lens, domain, seed)
    # counter sanity: every compare is either ovc or col, totals bounded
    # by the sequential-merge upper bound n-1 per pairwise merge level
    total = counters.get("ovc", 0) + counters.get("col", 0)
    n = int(sum(lens))
    k = sum(1 for L in lens if L)
    assert total <= max(0, n - 1) * max(1, k)
