"""Partition-level external merge sort — the vectorized OVC sort kernel.

One instance of this runs inside every ``mapInArrow``/``mapInPandas``
task.  Phases mirror the reference's ``SortIterator`` lifecycle
(reference ``Sort.cpp:21-136``):

  pass 0  run formation — buffer Arrow batches up to the memory budget,
          sort each full buffer vectorized, spill as an Arrow run file;
          the final partial buffer stays IN MEMORY (the analogue of the
          reference's graceful internal→external degradation, reference
          ``DRAM.cpp:75-134``: only what exceeds memory is spilled, so
          spill ≈ I − M when input barely overflows, cf. Test2),
  passes 1..d-1  intermediate merges while more than B runs remain,
          smallest runs first, initial fan-in X = (W-2) % (B-1) + 2
          (reference ``Sort.cpp:85``, ``DRAM.cpp:460``),
  final   lazy merge of ≤ B runs, emitted batch-by-batch on demand
          (reference ``Sort.cpp:125-134``).

The data plane is Arrow end to end: key normalization reads Arrow
buffers directly (keys_arrow.py), row reordering is ``Table.take``
(C++), spills are Arrow IPC files, and the non-exact fallback sort is
``pyarrow.compute.sort_indices`` (C++ stable sort) — pandas appears
only in the compatibility adapter ``sort()``.  This removed the
pandas<->Arrow string round-trips that dominated the profile (5 of 9
seconds per 250k-row partition).

Instrumentation mirrors the reference's printouts (``Sort.cpp:90-100``,
``Sort.cpp:189-191``): W, B, X, merge depth, spill rows, pass count,
plus comparison counts when the exact loser-tree mode is selected.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from . import keys as K
from . import vmerge
from .keys_arrow import key_matrix_table, row_fingerprint_table
from .loser_tree import LoserTreeMerge
from .planner import initial_fan_in, merge_depth
from .runs import RunStore


@dataclass
class SortMetrics:
    rows_in: int = 0
    rows_out: int = 0
    runs_formed: int = 0          # W
    fan_in: int = 0               # B
    initial_fan_in: int = 0       # X
    depth: int = 0                # 1 + ceil(log_B W)
    passes: int = 0
    spill_rows: int = 0
    ovc_compares: int = 0         # exact mode only
    col_compares: int = 0         # exact mode only
    resumed: bool = False
    mode: str = "fast"
    wall_ms: float = 0.0

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def _sort_keys(key_cols: list[str]):
    return [(c, "ascending") for c in key_cols]


def _sort_table(tbl: pa.Table, key_cols: list[str]) -> pa.Table:
    """Vectorized single-buffer sort (run formation).

    Exact-normalizable keys -> uint64 matrix, packed into one uint64 per
    row and stably argsorted (``keys.lexsort_indices``; a k-pass
    ``np.lexsort`` when the key is wider than 64 bits) — the cache-run
    analogue of the reference's in-RAM sort, ``DRAM.cpp:362-445``, with
    ``take`` instead of the in-place permutation ``DRAM.cpp:338-354``.
    Otherwise -> Arrow's C++ stable sort (full string collation).
    """
    if tbl.num_rows == 0:
        return tbl
    # string_ranks: string keys become exact per-buffer dense ranks, so
    # even string-keyed buffers sort on the integer matrix (no
    # whole-column string comparison sort)
    mat, exact = key_matrix_table(tbl, key_cols, string_ranks=True)
    if exact:
        order = K.lexsort_indices(mat)
        if _is_trivial(order):
            return tbl
        return tbl.take(pa.array(order))
    idx = pc.sort_indices(
        tbl, sort_keys=_sort_keys(key_cols), null_placement="at_start"
    )
    return tbl.take(idx)


def _is_trivial(order: np.ndarray) -> bool:
    return bool(len(order) == 0 or (order == np.arange(len(order))).all())


def _merge_tables(
    tables: list[pa.Table], key_cols: list[str], counters: dict | None = None
) -> pa.Table:
    """Vectorized merge of sorted Arrow tables into one sorted table.

    ``counters``: optional {"ovc", "col"} dict accumulated with the
    packed-path comparison counts — instrumentation from the PRODUCTION
    merge, not a shadow sort: ``vmerge.merge_runs_packed`` merges the
    runs in one stable sort and derives the tournament's compares in
    closed form from the run boundaries and equal-key groups.  The
    matrix/collation fallbacks perform no countable head-to-head events
    (one stable lexsort) and leave the counters untouched.
    """
    if len(tables) == 1:
        return tables[0]
    big = pa.concat_tables(tables, promote_options="default")
    # normalize ONCE over the concatenation, then slice per-run ranges:
    # per-run matrices are not mutually comparable when nulls are
    # unevenly distributed (the null-flag column exists only for runs
    # that contain nulls -> misaligned widths); one shared matrix makes
    # width AND packing parameters consistent by construction.
    # string_ranks: string key columns get exact dense ranks over the
    # concatenation (shared dictionary -> mutually comparable), so even
    # string-keyed merges run the counted integer merge instead of a
    # full collation re-sort
    mat, exact = key_matrix_table(big, key_cols, string_ranks=True)
    if exact:
        bounds = np.cumsum([0] + [t.num_rows for t in tables])
        mats = [mat[bounds[i] : bounds[i + 1]] for i in range(len(tables))]
        packed = K.pack_columns_shared(mats)
        if packed is not None:
            # O(n log k), single-int compares
            idx = vmerge.merge_runs_packed(packed, counters)
        else:
            idx = vmerge.merge_runs_matrix(mats)
        return big.take(pa.array(idx))
    idx = pc.sort_indices(
        big, sort_keys=_sort_keys(key_cols), null_placement="at_start"
    )
    return big.take(idx)


def _to_table(b) -> pa.Table:
    if isinstance(b, pa.Table):
        return b
    if isinstance(b, pa.RecordBatch):
        return pa.Table.from_batches([b])
    return pa.Table.from_pandas(b, preserve_index=False)


@dataclass
class ExternalSorter:
    """Sorts one partition's batch stream with bounded memory."""

    key_cols: list[str]
    spill_dir: str
    memory_budget_rows: int = 1 << 20
    batch_rows: int = 1 << 16
    mode: str = "fast"            # "fast" | "exact" (loser tree w/ counters)
    # Output batch size.  ``batch_rows`` sets only the merge GEOMETRY
    # (fan-in = budget/batch - 1, reference B = M/page - 1); emitted
    # batches are sliced at ``emit_rows`` (default: max(batch_rows,
    # 8192) so tiny geometry pages don't flood the downstream Arrow
    # stream with micro-batches).  Callers that size per-batch memory
    # downstream should set emit_rows explicitly.
    emit_rows: int | None = None
    # When True, the final partial buffer is ALSO spilled before the run
    # manifest commits, so the checkpoint covers every input row and a
    # retried task can rebuild its output WITHOUT repeating the merge
    # passes (the north_rule's resumability).  When False, the tail stays
    # in memory (the reference's graceful-degradation spill minimum,
    # DRAM.cpp:75-134).
    checkpoint_inputs: bool = False
    # Resume protocol.  A committed manifest records an order-independent
    # fingerprint of the input (row count + xor-folded row hashes).  On a
    # rerun, input is consumed and fingerprinted again (run formation
    # into a staging dir); if the fingerprint matches, the staged runs
    # are discarded and the committed runs replay — merge passes are
    # skipped; if it differs (e.g. nondeterministic upstream
    # partitioning re-dealt the rows), the stale checkpoint is discarded
    # and the staged runs proceed as a fresh sort.  ``resume_trust=True``
    # skips re-reading input entirely — only safe when the caller
    # guarantees identical partition input (e.g. deterministic
    # partitioning, or replaying a job with no upstream available).
    resume_trust: bool = False
    metrics: SortMetrics = field(default_factory=SortMetrics)
    _fingerprint: int = 0
    # production-path comparison counters ({"ovc", "col"}), accumulated
    # by every packed merge step (one stable sort; counts in closed form
    # from run boundaries and equal-key groups, vmerge.merge_runs_packed)
    _cmp: dict = field(default_factory=dict)
    # write-through cache: when checkpoint_inputs spills the tail, the
    # just-written run is served from memory instead of read back from
    # disk (the file still exists for resume — only this process skips
    # the redundant decode)
    _run_cache: tuple | None = None

    def __post_init__(self):
        # range(0, n, step<=0) would silently emit NOTHING — reject the
        # misconfiguration before any input is read, sorted or spilled
        if self.emit_rows is not None and self.emit_rows < 1:
            raise ValueError(f"emit_rows must be >= 1, got {self.emit_rows}")

    # -- public: pandas adapter (mapInPandas / tests) ---------------------------
    def sort(self, batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for t in self.sort_tables(_to_table(b) for b in batches):
            yield t.to_pandas()

    # -- public: Arrow-native (mapInArrow) --------------------------------------
    def sort_tables(self, batches: Iterable[pa.Table]) -> Iterator[pa.Table]:
        t0 = time.perf_counter()
        self.metrics.mode = self.mode

        committed = RunStore.load(self.spill_dir)
        candidate = None
        if (
            committed is not None
            and committed[1].get("state") in ("runs_formed", "done")
            and committed[1].get("covers_all", False)
            and committed[0].runs
        ):
            candidate = committed

        if candidate is not None and self.resume_trust:
            store = candidate[0]
            self.metrics.resumed = True
            self.metrics.rows_in = candidate[1].get(
                "rows_in", sum(r.rows for r in store.runs)
            )
            self._fingerprint = int(candidate[1].get("fingerprint", "0"), 16)
            yield from self._merge_all(store, None)
            self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3
            return

        if candidate is not None:
            # verified resume: form runs in a staging dir while
            # fingerprinting the input, then decide replay vs recompute.
            staging = RunStore(
                os.path.join(self.spill_dir, f"staging-{uuid.uuid4().hex}"),
                manifest_dir=self.spill_dir,
            )
            tail = yield from self._form_runs(batches, staging)
            if tail is _INLINE_DONE:
                # inline fast path already emitted (fresh, no spill);
                # invalidate the stale checkpoint so nobody replays it.
                self._invalidate(candidate[0])
                shutil.rmtree(staging.root, ignore_errors=True)
                self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3
                return
            if (
                self.metrics.rows_in == candidate[1].get("rows_in")
                and f"{self._fingerprint:016x}" == candidate[1].get("fingerprint")
            ):
                # identical input: replay committed runs, drop staging
                shutil.rmtree(staging.root, ignore_errors=True)
                store = candidate[0]
                self.metrics.resumed = True
                tail = None
            else:
                self._invalidate(candidate[0])
                store = staging
                if self.checkpoint_inputs and tail is not None and tail.num_rows:
                    info = store.write_run(tail)
                    self._run_cache = (info, tail)  # write-through: no read-back
                    tail = None
                store.commit("runs_formed", self._commit_extra(tail))
        else:
            store = RunStore(self.spill_dir)
            tail = yield from self._form_runs(batches, store)
            if tail is _INLINE_DONE:
                self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3
                return
            if self.checkpoint_inputs and tail is not None and tail.num_rows:
                info = store.write_run(tail)
                self._run_cache = (info, tail)  # write-through: no read-back
                tail = None
            store.commit("runs_formed", self._commit_extra(tail))

        yield from self._merge_all(store, tail)
        self.metrics.wall_ms = (time.perf_counter() - t0) * 1e3

    def _read_run(self, store: RunStore, r):
        if self._run_cache is not None and self._run_cache[0] is r:
            return self._run_cache[1]
        return store.read_run(r)

    def _commit_extra(self, tail) -> dict:
        return {
            "rows_in": self.metrics.rows_in,
            "covers_all": tail is None,
            "fingerprint": f"{self._fingerprint:016x}",
        }

    def _invalidate(self, store: RunStore):
        try:
            os.remove(store.manifest_path())
        except OSError:
            pass
        for r in list(store.runs):
            try:
                os.remove(r.path)
            except OSError:
                pass

    # -- pass 0 ---------------------------------------------------------------
    def _form_runs(self, batches, store: RunStore):
        buf: list[pa.Table] = []
        buf_rows = 0
        budget = max(self.batch_rows, self.memory_budget_rows - self.batch_rows)
        spilled_any = False
        for b in batches:
            if b.num_rows == 0:
                continue
            self.metrics.rows_in += b.num_rows
            # checkpoint/resume validation needs a FULL content
            # fingerprint (a prefix+length hash would replay a stale
            # checkpoint over input that changed past byte 8); ephemeral
            # spill dirs never resume, so they keep the cheap one
            self._fingerprint ^= row_fingerprint_table(
                b, full=self.checkpoint_inputs
            )
            buf.append(b)
            buf_rows += b.num_rows
            if buf_rows >= budget:
                # an incoming Arrow batch can exceed the budget (Arrow
                # batch size is a Spark conf, not ours): split into
                # budget-sized runs, each sorted independently, so the
                # memory ceiling holds regardless of producer batching
                tbl = pa.concat_tables(buf, promote_options="default")
                start = 0
                while tbl.num_rows - start >= budget:
                    chunk = tbl.slice(start, budget)
                    store.write_run(_sort_table(chunk, self.key_cols))
                    spilled_any = True
                    start += budget
                rest = tbl.slice(start)
                buf = [rest] if rest.num_rows else []
                buf_rows = rest.num_rows
        tail = None
        if buf:
            tbl = pa.concat_tables(buf, promote_options="default")
            tail = _sort_table(tbl, self.key_cols)
        if not spilled_any and not self.checkpoint_inputs:
            # internal-sort path: everything fit in memory (Sort.cpp:163-165)
            self.metrics.runs_formed = 1 if tail is not None else 0
            self.metrics.depth = 1
            self.metrics.passes = 1
            self.metrics.rows_out = 0 if tail is None else tail.num_rows
            if tail is not None:
                yield from self._emit_table(tail)
            return _INLINE_DONE
        return tail

    # -- passes 1..d ------------------------------------------------------------
    def _merge_all(self, store: RunStore, tail: pa.Table | None):
        # the in-memory tail participates as one more (unspilled) run
        tail_tbl = tail if tail is not None and tail.num_rows else None
        w = len(store.runs) + (1 if tail_tbl is not None else 0)
        b = max(2, self.memory_budget_rows // self.batch_rows - 1)
        m = self.metrics
        m.runs_formed = w
        m.fan_in = b
        m.initial_fan_in = initial_fan_in(w, b)
        m.depth = merge_depth(w, b)
        # intermediate merges: operate directly on the size-ordered store;
        # first step merges only X runs (1-step→n-step degradation,
        # Sort.cpp:85), later steps full fan-in B, smallest runs first.
        first_step = True
        max_gen = 0
        while len(store.runs) + (1 if tail_tbl is not None else 0) > b:
            take = m.initial_fan_in if first_step else min(b, len(store.runs))
            first_step = False
            batch = store.runs[:take]
            tables = [self._read_run(store, r) for r in batch]
            gen = 1 + max(r.generation for r in batch)
            max_gen = max(max_gen, gen)
            merged = _merge_tables(tables, self.key_cols, self._cmp)
            store.remove_runs(batch)
            store.write_run(merged, generation=gen)
            store.commit(
                "runs_formed",
                {
                    "rows_in": m.rows_in,
                    "covers_all": tail_tbl is None,
                    "fingerprint": f"{self._fingerprint:016x}",
                },
            )
        # passes executed: formation + intermediate generations + final merge
        m.passes = 1 + max_gen + (1 if w > 1 else 0)
        m.spill_rows = store.spill_rows

        final_tables = [self._read_run(store, r) for r in store.runs]
        if tail_tbl is not None:
            final_tables.append(tail_tbl)
        # the whole-row loser tree (reference semantics: every column is
        # a key column) is only valid when key_cols IS the whole schema
        # — runs are sorted by key_cols, and a tree comparing extra
        # payload columns would assume an order the runs don't have
        whole_row_key = bool(final_tables) and list(self.key_cols) == list(
            final_tables[0].schema.names
        )
        if self.mode == "exact" and whole_row_key and self._all_int(final_tables):
            yield from self._final_exact(final_tables)
        elif self.mode == "exact" and self._exact_keys_supported(final_tables):
            yield from self._final_exact_coded(final_tables)
        else:
            out = (
                _merge_tables(final_tables, self.key_cols, self._cmp)
                if final_tables
                else None
            )
            if out is not None:
                m.rows_out += out.num_rows
                yield from self._emit_table(out)
            # instrumentation comes from the one production merge path
            # (packed merge-path counts) whenever it performed the final
            # merge — including an exact-mode schema the tree can't code
            # (exact tree paths overwrite with reference-faithful counts)
            m.ovc_compares = self._cmp.get("ovc", 0)
            m.col_compares = self._cmp.get("col", 0)
        store.commit(
            "done",
            {
                "rows_in": m.rows_in,
                "covers_all": tail_tbl is None,
                "fingerprint": f"{self._fingerprint:016x}",
                "metrics": m.as_dict(),
            },
        )

    # -- final merge, exact loser-tree mode ------------------------------------
    def _all_int(self, tables: list[pa.Table]) -> bool:
        return all(
            pa.types.is_integer(f.type)
            for t in tables
            for f in t.schema
        )

    def _exact_keys_supported(self, tables: list[pa.Table]) -> bool:
        """Exact (counted loser-tree) mode handles any KEY columns of
        scalar type — ints/floats/timestamps/bools via order-preserving
        u64 codes, strings via a global dense rank over the final tables
        (all in memory at final-merge time).  Non-key payload columns
        are carried by gather index and can be anything."""
        from .keys_arrow import _is_scalar_key_type

        if not tables:
            return False
        schema = tables[0].schema
        return all(
            c in schema.names and _is_scalar_key_type(schema.field(c).type)
            for c in self.key_cols
        )

    def _final_exact(self, tables: list[pa.Table]):
        """On-demand loser-tree merge with OVC counters (keys == whole row,
        like the reference; only valid for all-integer schemas)."""
        runs = [
            np.column_stack([t.column(c).to_numpy() for c in t.schema.names]).astype(
                np.int64
            )
            if t.num_rows
            else np.zeros((0, len(t.schema.names)), np.int64)
            for t in tables
        ]
        schema = tables[0].schema
        cols = schema.names
        tree = LoserTreeMerge(runs)
        out_buf = []

        def flush(buf):
            mat = np.vstack(buf)
            arrays = [
                pa.array(mat[:, j]).cast(schema.field(j).type)
                for j in range(len(cols))
            ]
            return pa.Table.from_arrays(arrays, names=list(cols))

        while True:
            row = tree.pop()
            if row is None:
                break
            out_buf.append(row)
            if len(out_buf) >= self.batch_rows:
                t = flush(out_buf)
                self.metrics.rows_out += t.num_rows
                yield t
                out_buf = []
        if out_buf:
            t = flush(out_buf)
            self.metrics.rows_out += t.num_rows
            yield t
        self.metrics.ovc_compares = tree.ovc_compares
        self.metrics.col_compares = tree.col_compares

    def _final_exact_coded(self, tables: list[pa.Table]):
        """Counted loser-tree final merge for key columns beyond the
        all-int whole-row case — the round-2 gap where exact mode
        silently fell back for any string key.

        Each KEY column (only the key columns — the runs are sorted by
        exactly those) is mapped to an order-preserving int64 code:
        numerics/timestamps through the same u64 normalization the fast
        path uses, strings through a global dense rank over the final
        tables (``keys_arrow._string_rank_codes`` — legal here: all
        final runs are materialized for the merge anyway).  A global
        row-index column is appended as the last key column: it breaks
        key ties deterministically (runs are key-sorted, so (key, index)
        is sorted within every run) AND doubles as the gather index
        mapping merged code-rows back to the original Arrow rows,
        payload columns included.
        """
        from .keys_arrow import (
            _is_stringish,
            _string_rank_codes,
            normalize_arrow_column,
        )

        big = pa.concat_tables(tables, promote_options="default")
        n = big.num_rows
        if n == 0:
            return
        cols: list[np.ndarray] = []
        for name in self.key_cols:
            col = big.column(name)
            if _is_stringish(col.type):
                nk = _string_rank_codes(col)
                codes = nk.codes.astype(np.int64)  # dense ranks: small ints
            else:
                nk = normalize_arrow_column(col)
                # u64 -> order-preserving int64 (shift by 2^63)
                codes = (nk.codes ^ np.uint64(1 << 63)).view(np.int64)
            if nk.isnull is not None:
                cols.append((~nk.isnull).astype(np.int64))  # null flag: 0 first
                codes = np.where(nk.isnull, np.int64(0), codes)
            cols.append(codes)
        cols.append(np.arange(n, dtype=np.int64))  # gather index / final tiebreak
        mat = np.column_stack(cols)
        bounds = np.cumsum([0] + [t.num_rows for t in tables])
        runs = [mat[bounds[i] : bounds[i + 1]] for i in range(len(tables))]
        tree = LoserTreeMerge(runs)
        buf: list[int] = []
        while True:
            row = tree.pop()
            if row is None:
                break
            buf.append(int(row[-1]))
            if len(buf) >= self.batch_rows:
                t = big.take(pa.array(np.asarray(buf, dtype=np.int64)))
                self.metrics.rows_out += t.num_rows
                yield t
                buf = []
        if buf:
            t = big.take(pa.array(np.asarray(buf, dtype=np.int64)))
            self.metrics.rows_out += t.num_rows
            yield t
        self.metrics.ovc_compares = tree.ovc_compares
        self.metrics.col_compares = tree.col_compares

    # -- emission ---------------------------------------------------------------
    def _emit_table(self, table: pa.Table):
        # emission slices are decoupled from batch_rows (see emit_rows
        # field doc): geometry pages can be tiny without pushing
        # thousands of micro-batches into the downstream Arrow stream
        step = self.emit_rows if self.emit_rows else max(self.batch_rows, 8192)
        for i in range(0, table.num_rows, step):
            yield table.slice(i, step)


class _InlineDone:
    pass


_INLINE_DONE = _InlineDone()


def sort_partition(
    batches: Iterable[pd.DataFrame],
    key_cols: list[str],
    spill_dir: str,
    **kw,
) -> tuple[Iterator[pd.DataFrame], ExternalSorter]:
    sorter = ExternalSorter(key_cols=key_cols, spill_dir=spill_dir, **kw)
    return sorter.sort(batches), sorter
