"""Order-preserving key normalization for the vectorized OVC sort kernel.

The reference engine sorts rows of int32 columns lexicographically
(reference ``TreeOfLosers.cpp:13-37``).  Our kernel generalizes the key
domain to the types a web-page table needs (ints, floats, timestamps,
strings/bytes) by normalizing every key column into ``uint64`` codes such
that ``uint64`` compare == original compare.  This is the vectorized
analogue of the reference's OVC thesis ("most comparisons become a single
machine-integer compare", reference ``README.md:4-5``): after
normalization, one array compare per column — and, when the packed width
allows, one compare for the *whole* key.

Strings are prefix-coded (first 8 bytes, big-endian); a prefix tie does
NOT imply a key tie, so every normalization reports whether it is
*exact* (total order preserved) or a *prefix* (needs a fallback compare
on ties).  The sort paths only use single-uint64 fast paths when every
column is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_SIGN64 = np.uint64(0x8000000000000000)


@dataclass(frozen=True)
class NormalizedKey:
    """One key column normalized to uint64 codes.

    codes : (n,) uint64, order-preserving (ties in codes may hide real
            differences only when ``exact`` is False).
    exact : True if code order == value order with no ties introduced.
    width : number of significant low bits actually used (64 if unknown);
            used by ``pack_columns`` to try fitting several columns into
            one uint64.
    """

    codes: np.ndarray
    exact: bool
    width: int
    isnull: np.ndarray | None = None  # (n,) bool when the column has nulls


def _int_to_u64(arr: np.ndarray) -> np.ndarray:
    return arr.astype(np.int64, copy=False).view(np.uint64) ^ _SIGN64


def _float_to_u64(arr: np.ndarray) -> np.ndarray:
    # IEEE-754 total-order trick: flip all bits for negatives, sign bit
    # for non-negatives.  NaNs sort last (all-ones exponent pattern).
    bits = np.ascontiguousarray(arr, dtype=np.float64).view(np.uint64)
    mask = np.where(bits >> np.uint64(63) == 1, np.uint64(0xFFFFFFFFFFFFFFFF), _SIGN64)
    return bits ^ mask


def _bytes_prefix_to_u64(values: np.ndarray) -> np.ndarray:
    """Big-endian first-8-bytes prefix of each bytes/str value."""
    n = len(values)
    buf = np.zeros((n, 8), dtype=np.uint8)
    for i, v in enumerate(values):  # driver of last resort; small n per batch
        if v is None:
            continue
        b = v.encode("utf-8", "surrogatepass") if isinstance(v, str) else bytes(v)
        k = min(8, len(b))
        buf[i, :k] = np.frombuffer(b[:k], dtype=np.uint8)
    return buf.view(">u8").ravel().astype(np.uint64)


def normalize_column(col) -> NormalizedKey:
    """Normalize a pandas Series / numpy array into uint64 codes.

    Null handling: nulls sort FIRST (Spark's default ``asc_nulls_first``).
    Null rows get code 0 and the result carries an ``isnull`` mask;
    ``key_matrix`` turns the mask into a null-flag column placed before
    the codes, so the compare stays exact without giving up a code bit.
    """
    if isinstance(col, pd.Series):
        isnull = col.isna().to_numpy()
        arr = col.to_numpy()
    else:
        arr = np.asarray(col)
        isnull = pd.isna(arr) if arr.dtype == object else np.zeros(len(arr), bool)

    kind = arr.dtype.kind
    if kind in "iu":
        codes = _int_to_u64(arr)
        exact = True
    elif kind == "f":
        codes = _float_to_u64(np.nan_to_num(arr, nan=0.0))
        exact = True
    elif kind == "M":  # datetime64
        codes = _int_to_u64(arr.view("i8"))
        exact = True
    elif kind == "b":
        codes = arr.astype(np.uint64)
        exact = True
    else:  # object: str / bytes
        codes = _bytes_prefix_to_u64(arr)
        exact = False
    if isnull.any():
        # Nulls sort FIRST (Spark asc_nulls_first): rather than squeezing a
        # null band into the 64-bit code (which would cost a bit of
        # precision), report the mask; ``key_matrix`` prepends a 1-bit
        # null-flag column so the lexicographic compare stays exact.
        codes = np.where(isnull, np.uint64(0), codes)
        return NormalizedKey(codes=codes, exact=exact, width=64, isnull=isnull)
    return NormalizedKey(codes=codes, exact=exact, width=64)


def normalize_frame(df: pd.DataFrame, key_cols: list[str]) -> list[NormalizedKey]:
    return [normalize_column(df[c]) for c in key_cols]


def key_matrix(df: pd.DataFrame, key_cols: list[str]) -> tuple[np.ndarray, bool]:
    """(n, k) uint64 matrix of normalized key codes + exactness flag."""
    norms = normalize_frame(df, key_cols)
    if not norms:
        return np.zeros((len(df), 0), dtype=np.uint64), True
    cols = []
    for nk in norms:
        if nk.isnull is not None:
            cols.append((~nk.isnull).astype(np.uint64))  # null flag: 0 sorts first
        cols.append(nk.codes)
    mat = np.column_stack(cols)
    return mat, all(nk.exact for nk in norms)


def pack_columns(mat: np.ndarray) -> np.ndarray | None:
    """Try to pack an (n, k) uint64 key matrix into one uint64 per row.

    Uses the observed per-column ranges (min subtracted, bit width
    measured) — the data is already fully materialized per partition
    when this runs, so data-dependent packing is safe.  Returns None if
    the total width exceeds 64 bits.

    This is the kernel's vectorized stand-in for offset-value coding:
    the packed code makes an entire multi-column key comparison a single
    integer compare (reference ``README.md:4-5``).
    """
    n, k = mat.shape
    if k == 0:
        return np.zeros(n, dtype=np.uint64)
    if k == 1:
        return mat[:, 0]
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    los = []
    widths = []
    for j in range(k):
        col = mat[:, j]
        lo = col.min()
        los.append(lo)
        widths.append(max(1, int(col.max() - lo).bit_length()))
    if sum(widths) > 64:
        return None
    packed = np.zeros(n, dtype=np.uint64)
    for j, (w, lo) in enumerate(zip(widths, los)):
        packed = (packed << np.uint64(w)) | (mat[:, j] - lo)
    return packed


def pack_columns_shared(mats: list[np.ndarray]) -> list[np.ndarray] | None:
    """Pack SEVERAL key matrices with ONE shared set of offsets/widths so
    the packed codes are comparable ACROSS runs (per-run packing would
    subtract different minima — codes from different runs would not be
    mutually ordered).  Returns None when the shared width exceeds 64."""
    mats = [m for m in mats]
    if not mats:
        return []
    k = mats[0].shape[1]
    if k == 0:
        return [np.zeros(len(m), dtype=np.uint64) for m in mats]
    nonempty = [m for m in mats if len(m)]
    if not nonempty:
        return [np.zeros(0, dtype=np.uint64) for _ in mats]
    los = []
    widths = []
    for j in range(k):
        lo = min(int(m[:, j].min()) for m in nonempty)
        hi = max(int(m[:, j].max()) for m in nonempty)
        los.append(np.uint64(lo))
        widths.append(max(1, (hi - lo).bit_length()))
    if sum(widths) > 64:
        return None
    out = []
    for m in mats:
        packed = np.zeros(len(m), dtype=np.uint64)
        for j, (w, lo) in enumerate(zip(widths, los)):
            packed = (packed << np.uint64(w)) | (m[:, j] - lo)
        out.append(packed)
    return out


def lexsort_indices(mat: np.ndarray) -> np.ndarray:
    """Stable ascending argsort of an (n, k) uint64 key matrix.

    When the key packs into one uint64 (``pack_columns``: order-
    preserving and injective on the key), one stable argsort of the
    packed codes gives the same permutation as the k-pass lexsort, ties
    included.  Wider keys take the lexsort.
    """
    packed = pack_columns(mat)
    if packed is not None:
        return np.argsort(packed, kind="stable")
    # np.lexsort: last key is primary -> reverse column order.
    return np.lexsort(tuple(mat[:, j] for j in range(mat.shape[1] - 1, -1, -1)))
