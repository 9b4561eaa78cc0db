"""The two integer fast paths of the kernel against their textbook forms.

- Run formation: ``keys.lexsort_indices`` sorts on one packed uint64
  code when the key fits in 64 bits.  It must return exactly the
  permutation of a stable ``np.lexsort`` over the key columns, ties
  included, and fall back to that lexsort for wider keys.
- k-way merge: ``vmerge.merge_runs_packed`` does one stable sort per
  merge step and derives the comparison counts in closed form.  Its
  gather order and ``(ovc, col)`` must equal the former adjacent-pair
  tournament of 2-way merges, kept as the oracle in ``merge_oracle``;
  that oracle's pairwise positions stay checked against the merge path
  ``arange + searchsorted`` (ties to run A).
- Key matrix layout: ``key_matrix_table`` returns a column-major
  matrix, and both sort paths read it exactly like a row-major copy.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from external_merge_sort_loser_tree_ovc_spark.kernel import keys as K
from external_merge_sort_loser_tree_ovc_spark.kernel import vmerge
from external_merge_sort_loser_tree_ovc_spark.kernel.keys_arrow import key_matrix_table
from merge_oracle import merge2_positions, merge_runs_tournament

U64_MAX = np.iinfo(np.uint64).max

_SETTINGS = settings(
    max_examples=80,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)


def lexsort_oracle(mat: np.ndarray) -> np.ndarray:
    """Stable lexicographic argsort: np.lexsort takes the primary key
    last; with no key columns every row ties and the order is kept."""
    if mat.shape[1] == 0:
        return np.arange(mat.shape[0])
    return np.lexsort(tuple(mat[:, j] for j in range(mat.shape[1] - 1, -1, -1)))


def searchsorted_oracle(ka: np.ndarray, kb: np.ndarray):
    pos_a = np.arange(len(ka), dtype=np.int64) + np.searchsorted(kb, ka, side="left")
    pos_b = np.arange(len(kb), dtype=np.int64) + np.searchsorted(ka, kb, side="right")
    return pos_a, pos_b


def _column(rng, n: int, bits: int, base: int) -> np.ndarray:
    """n uint64 values spanning ``bits`` bits above ``base``."""
    if bits == 64:
        return rng.integers(0, U64_MAX, n, dtype=np.uint64, endpoint=True)
    hi = min((1 << bits) - 1, U64_MAX - base)
    return rng.integers(0, hi, n, dtype=np.uint64, endpoint=True) + np.uint64(base)


# -- run formation ------------------------------------------------------------


@_SETTINGS
@given(
    n=st.integers(0, 300),
    bits=st.lists(st.integers(0, 64), min_size=0, max_size=5),
    base=st.sampled_from([0, 1 << 20, 1 << 62, int(U64_MAX) - 3]),
    seed=st.integers(0, 2**31 - 1),
)
def test_lexsort_indices_matches_lexsort(n, bits, base, seed):
    """Any shape: k = 0..5 columns, n = 0..300 rows, column spans from
    one value (all ties) to the full 64 bits, so the sum of spans falls
    on both sides of 64 and both paths run."""
    rng = np.random.default_rng(seed)
    mat = np.column_stack([_column(rng, n, b, base) for b in bits]) if bits else (
        np.zeros((n, 0), dtype=np.uint64)
    )
    got = K.lexsort_indices(mat)
    assert got.shape == (n,)
    assert (got == lexsort_oracle(mat)).all()


@_SETTINGS
@given(
    n=st.integers(0, 400),
    k=st.integers(1, 6),
    domain=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_lexsort_indices_duplicate_heavy(n, k, domain, seed):
    """Tiny domains: most rows tie on the whole key, so the result is
    only right if the packed sort is stable."""
    rng = np.random.default_rng(seed)
    mat = rng.integers(0, domain, (n, k)).astype(np.uint64)
    assert (K.lexsort_indices(mat) == lexsort_oracle(mat)).all()


@pytest.mark.parametrize("n,k", [(0, 0), (0, 1), (0, 3), (5, 0), (1, 1), (7, 1)])
def test_lexsort_indices_degenerate_shapes(n, k):
    rng = np.random.default_rng(n * 10 + k)
    mat = rng.integers(0, 3, (n, k)).astype(np.uint64)
    assert (K.lexsort_indices(mat) == lexsort_oracle(mat)).all()


@_SETTINGS
@given(
    vals=st.lists(st.one_of(st.none(), st.integers(-5, 5)), max_size=120),
    other=st.lists(st.integers(0, 3), min_size=120, max_size=120),
)
def test_lexsort_indices_null_flag_matrix(vals, other):
    """The matrix ``key_matrix_table`` builds for a nullable key: a
    null-flag column before the codes, nulls first."""
    n = len(vals)
    tbl = pa.table(
        {"a": pa.array(vals, type=pa.int64()), "b": pa.array(other[:n], type=pa.int64())}
    )
    mat, exact = key_matrix_table(tbl, ["a", "b"], string_ranks=True)
    assert exact
    if any(v is None for v in vals):
        assert mat.shape[1] == 3  # null flag, a, b
    assert (K.lexsort_indices(mat) == lexsort_oracle(mat)).all()


@pytest.mark.parametrize(
    "bits",
    [(64, 1), (33, 32), (40, 40, 2), (1, 1, 63), (64, 64, 64)],
    ids=lambda b: "+".join(map(str, b)),
)
def test_lexsort_indices_wide_keys_take_lexsort(bits):
    """Column spans summing past 64 bits cannot pack: the sort must be
    the lexsort fallback, with ties on the leading columns."""
    rng = np.random.default_rng(sum(bits))
    n = 2000
    cols = [_column(rng, n, b, 0) for b in bits]
    # force every column to its full span so the packed width is known
    for c, b in zip(cols, bits):
        c[0], c[1] = 0, (1 << b) - 1 if b < 64 else U64_MAX
    # duplicate-heavy leading column so later columns decide ties
    cols[0][2:] = cols[0][2:] % np.uint64(3)
    mat = np.column_stack(cols)
    assert K.pack_columns(mat) is None
    assert (K.lexsort_indices(mat) == lexsort_oracle(mat)).all()


# -- key matrix layout --------------------------------------------------------


@pytest.mark.parametrize(
    "nulls,wide", [(False, False), (True, False), (False, True)],
    ids=["plain", "null-flag", "wide"],
)
def test_key_matrix_table_is_column_major(nulls, wide):
    """Each key column is one contiguous array; packing, the packed
    sort and the lexsort fallback (``wide``: two full-range columns)
    give the same answers on it as on a row-major ``column_stack``
    copy."""
    rng = np.random.default_rng(5)
    n = 3000
    s = rng.choice(["x", "yy", "zzz", ""], n)
    # a nullable string key: its dense ranks and null flag stay narrow,
    # so the key still packs (a nullable integer spans all 64 bits)
    mask = (rng.integers(0, 7, n) == 0) if nulls else None
    span = (np.iinfo(np.int64).min, np.iinfo(np.int64).max) if wide else (-5, 5)
    tbl = pa.table(
        {
            "s": pa.array(s, mask=mask),
            "b": pa.array(rng.integers(*span, n) if wide else rng.integers(0, 1 << 40, n)),
            "c": pa.array(rng.integers(*span, n)),
        }
    )
    mat, exact = key_matrix_table(tbl, ["s", "b", "c"], string_ranks=True)
    assert exact
    assert mat.shape == (n, 4 if nulls else 3)
    assert mat.flags.f_contiguous
    rows = np.column_stack([mat[:, j] for j in range(mat.shape[1])])
    assert rows.flags.c_contiguous and (rows == mat).all()
    assert (K.pack_columns(mat) is None) == wide
    assert (K.lexsort_indices(mat) == K.lexsort_indices(rows)).all()
    assert (K.lexsort_indices(mat) == lexsort_oracle(rows)).all()
    cuts = [0, 1000, 1000, 2500, n]
    got = K.pack_columns_shared([mat[lo:hi] for lo, hi in zip(cuts, cuts[1:])])
    want = K.pack_columns_shared([rows[lo:hi] for lo, hi in zip(cuts, cuts[1:])])
    if wide:
        assert got is None and want is None
        return
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g == w).all()


# -- k-way merge ----------------------------------------------------------------


def _assert_merge_matches_tournament(runs):
    got_counts, want_counts = {}, {}
    got = vmerge.merge_runs_packed(runs, got_counts)
    want = merge_runs_tournament(runs, want_counts)
    assert got.shape == want.shape
    assert (got == want).all()
    assert (got_counts.get("ovc", 0), got_counts.get("col", 0)) == (
        want_counts.get("ovc", 0),
        want_counts.get("col", 0),
    )
    # without counters the gather order is the same
    assert (vmerge.merge_runs_packed(runs) == want).all()


def _sorted_run(rng, n: int, domain) -> np.ndarray:
    if domain is None:
        v = rng.integers(0, U64_MAX, n, dtype=np.uint64, endpoint=True)
    else:
        v = rng.integers(0, domain, n).astype(np.uint64)
    return np.sort(v)


@_SETTINGS
@given(
    lens=st.lists(st.integers(0, 300), min_size=1, max_size=16),
    domain=st.sampled_from([1, 2, 4, 30, 1_000_000, None]),
    seed=st.integers(0, 2**31 - 1),
)
def test_merge_runs_packed_matches_tournament(lens, domain, seed):
    """k = 1..16 runs of 0..300 rows (empty runs included), duplicate-
    heavy domains and full-range uint64: same gather order and same
    ``(ovc, col)`` as the tournament of pairwise merges."""
    rng = np.random.default_rng(seed)
    _assert_merge_matches_tournament([_sorted_run(rng, n, domain) for n in lens])


@pytest.mark.parametrize(
    "lens",
    [(1, 10_000), (10_000, 1), (1, 10_000, 1), (0, 10_000, 0, 1), (5000, 0, 3, 5000)],
    ids=lambda t: "-".join(map(str, t)),
)
@pytest.mark.parametrize("domain", [1, 4, 1000, None], ids=["one", "ties", "mixed", "wide"])
def test_merge_runs_packed_lopsided(lens, domain):
    rng = np.random.default_rng(sum(lens))
    _assert_merge_matches_tournament([_sorted_run(rng, n, domain) for n in lens])


def test_merge_runs_packed_uint64_extremes():
    """0 and 2**64 - 1 in several runs, tied within and across runs."""
    top = U64_MAX
    mid = np.uint64(1 << 63)
    runs = [
        np.array([0, 0, 1, mid - 1, mid, top, top], dtype=np.uint64),
        np.array([0, mid, mid, top - 1, top], dtype=np.uint64),
        np.zeros(0, dtype=np.uint64),
        np.full(4, top, np.uint64),
        np.zeros(3, np.uint64),
        np.array([top], dtype=np.uint64),
    ]
    _assert_merge_matches_tournament(runs)
    _assert_merge_matches_tournament(runs[::-1])


def test_merge_runs_packed_degenerate():
    """No runs, one run (nothing counted), only empty runs."""
    counters = {}
    assert vmerge.merge_runs_packed([], counters).shape == (0,)
    one = np.array([3, 1, 2], dtype=np.uint64)  # a single run is taken as is
    assert (vmerge.merge_runs_packed([one], counters) == np.arange(3)).all()
    assert counters == {}
    _assert_merge_matches_tournament([np.zeros(0, np.uint64)] * 3)


# -- pairwise merge (the oracle's building block) -------------------------------


def _assert_positions(ka, kb):
    got = merge2_positions(ka, kb)
    want = searchsorted_oracle(ka, kb)
    for g, w in zip(got, want):
        assert g.dtype == np.int64
        assert g.shape == w.shape
        assert (g == w).all()


@_SETTINGS
@given(
    a=st.lists(st.integers(0, 5), max_size=80),
    b=st.lists(st.integers(0, 5), max_size=80),
)
def test_merge2_positions_tie_heavy(a, b):
    ka = np.sort(np.asarray(a, dtype=np.uint64))
    kb = np.sort(np.asarray(b, dtype=np.uint64))
    _assert_positions(ka, kb)


@pytest.mark.parametrize(
    "na,nb", [(0, 0), (0, 500), (500, 0), (1, 10_000), (10_000, 1), (3, 7)]
)
@pytest.mark.parametrize("domain", [2, 1000, None], ids=["ties", "mixed", "wide"])
def test_merge2_positions_lopsided(na, nb, domain):
    rng = np.random.default_rng(na * 31 + nb)

    def run(n):
        if domain is None:
            v = rng.integers(0, U64_MAX, n, dtype=np.uint64, endpoint=True)
        else:
            v = rng.integers(0, domain, n).astype(np.uint64)
        return np.sort(v)

    _assert_positions(run(na), run(nb))


def test_merge2_positions_uint64_extremes():
    """0 and 2**64 - 1 on both sides, tied and interleaved: no signed
    reinterpretation may reorder the top half of the range."""
    top = U64_MAX
    mid = np.uint64(1 << 63)
    ka = np.array([0, 0, 1, mid - 1, mid, top, top], dtype=np.uint64)
    kb = np.array([0, mid, mid, top - 1, top], dtype=np.uint64)
    _assert_positions(ka, kb)
    _assert_positions(kb, ka)
    _assert_positions(np.full(4, top, np.uint64), np.zeros(3, np.uint64))
    _assert_positions(np.zeros(3, np.uint64), np.full(4, top, np.uint64))
