"""``kernel_reference``: the reference's Test0 plan in one Python process.

Scan -> Filter (c0 > 1) -> Witness -> Sort -> Witness over
``kernel_rows(N, cols=4, domain=10_000, scan_type=0, seed)``, sorted by
``ExternalSorter`` in production ``mode="fast"`` with a memory budget of
1/64 of the input and fan-in B = 7.  No Spark: the kernel does almost all
the work, in the multi-pass spill/merge regime (W = 74, B = 7, X = 2,
depth 4) the flagship never reaches.

The oracle is a count, XOR-parity and inversion witness computed with
NumPy, without the kernel.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import tempfile
import time

import numpy as np

ROWS = 1_000_000
COLS = 4
DOMAIN = 10_000
KEYS = [f"c{i}" for i in range(COLS)]
ARROW_BATCH = 65_536  # the Arrow batch Spark hands mapInArrow under bench.py
SETUP_REPEATS = 3

SPANS = {
    "normalize": "kernel.normalize_s",
    "lexsort": "kernel.lexsort_s",
    "pack": "kernel.pack_s",
    "merge": "kernel.merge_s",
    "spill_write": "kernel.spill_write_s",
    "spill_read": "kernel.spill_read_s",
    "sort": "kernel.sort_s",
}
COUNTERS = [
    "runs_formed", "fan_in", "initial_fan_in", "depth", "passes",
    "spill_rows", "ovc_compares", "col_compares",
]


def witness(cols: list[np.ndarray]) -> tuple[int, int, int]:
    """(rows, parity, inversions) of rows given column-wise: the
    reference's xor over (col_i << i) and the count of adjacent pairs out
    of lexicographic order (Witness.cpp:39-63)."""
    n = len(cols[0])
    parity = 0
    for i, c in enumerate(cols):
        parity ^= int(np.bitwise_xor.reduce(c.astype(np.int64) << i)) if n else 0
    # domain < 2^14 and 4 columns: the whole row packs into one int64
    key = np.zeros(n, dtype=np.int64)
    for c in cols:
        key = key * DOMAIN + c
    inversions = int(np.count_nonzero(key[1:] < key[:-1])) if n > 1 else 0
    return n, parity, inversions


class KernelReference:
    name = "kernel_reference"
    min_warm = 3

    def __init__(self, dirs, seed: int, ncores: int, tracer=None):
        self.dirs = dirs
        self.seed = seed
        self.tracer = tracer
        self.budget = ROWS // 64
        self.batch_rows = self.budget // 8
        self.layer_counts: dict[str, float] = {}
        self.counter_history: list[dict] = []
        self._spill_bytes = 0
        self.phases: dict[str, float] = {}

    # -- set-up --------------------------------------------------------------
    def _prepare(self):
        import pyarrow as pa

        from external_merge_sort_loser_tree_ovc_spark.sources.fixtures import kernel_rows

        rows = kernel_rows(ROWS, cols=COLS, domain=DOMAIN, scan_type=0, seed=self.seed)
        scan = pa.Table.from_arrays([pa.array(rows[:, i]) for i in range(COLS)], names=KEYS)
        keep = rows[:, 0] > 1
        oracle = witness([rows[keep, i] for i in range(COLS)])
        return scan, (oracle[0], oracle[1], 0)

    def setup(self) -> float:
        """Import the program once, then prepare the input SETUP_REPEATS
        times; returns the import time plus the median preparation."""
        t0 = time.perf_counter()
        import pyarrow.compute  # noqa: F401

        from external_merge_sort_loser_tree_ovc_spark.kernel import external_sort  # noqa: F401

        imports = time.perf_counter() - t0
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.scan, self.oracle = self._prepare()
            times.append(time.perf_counter() - t0)
        self.phases = {"import_s": imports, "input_s": times}
        return imports + statistics.median(times)

    # -- one iteration -------------------------------------------------------
    def iteration(self, i: int) -> tuple[float, list[str]]:
        import pyarrow as pa
        import pyarrow.compute as pc

        from external_merge_sort_loser_tree_ovc_spark.kernel.external_sort import ExternalSorter

        spill = tempfile.mkdtemp(prefix="kref-", dir=self.dirs.spill)
        self._spill_bytes = 0
        root = (
            self.tracer.span("kernel_reference.iteration")
            if self.tracer is not None
            else contextlib.nullcontext()
        )
        try:
            with root:
                t0 = time.perf_counter()
                filtered = self.scan.filter(pc.greater(self.scan["c0"], 1))
                w_in = witness([filtered[c].to_numpy() for c in KEYS])
                sorter = ExternalSorter(
                    key_cols=KEYS,
                    spill_dir=spill,
                    memory_budget_rows=self.budget,
                    batch_rows=self.batch_rows,
                    mode="fast",
                )
                batches = (
                    pa.Table.from_batches([b])
                    for b in filtered.to_batches(max_chunksize=ARROW_BATCH)
                )
                out = pa.concat_tables(list(sorter.sort_tables(batches)))
                w_out = witness([out[c].to_numpy() for c in KEYS])
                wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(spill, ignore_errors=True)
        errors = []
        if (w_in[0], w_in[1], 0) != self.oracle:
            errors.append(f"input witness {w_in} != oracle {self.oracle}")
        if w_out != self.oracle:
            errors.append(f"output witness {w_out} != oracle {self.oracle}")
        m = sorter.metrics
        counters = {f"kernel.{k}": getattr(m, k) for k in COUNTERS}
        counters["kernel.merge_passes_max"] = m.passes
        counters["kernel.write_amplification"] = m.spill_rows / m.rows_in
        if self.tracer is not None:
            counters["kernel.spill_bytes"] = self._spill_bytes
        self.counter_history.append(counters)
        self.layer_counts = counters
        return wall, errors

    def input_rows(self) -> int:
        return self.oracle[0]

    # -- tracing -------------------------------------------------------------
    def trace_patches(self):
        """Wrap the layer functions ``kernel.external_sort`` looks up at
        call time."""
        from external_merge_sort_loser_tree_ovc_spark.kernel import (
            external_sort,
            keys,
            runs,
            vmerge,
        )

        tr = self.tracer

        def timed(span):
            def factory(orig):
                def wrapper(*a, **k):
                    with tr.span(span):
                        return orig(*a, **k)

                return wrapper

            return factory

        def write_run(orig):
            def wrapper(store, table, *a, **k):
                with tr.span(SPANS["spill_write"]):
                    info = orig(store, table, *a, **k)
                    self._spill_bytes += os.path.getsize(info.path)
                return info

            return wrapper

        def sort_tables(orig):
            def wrapper(sorter, batches):
                return tr.generator(SPANS["sort"], orig(sorter, batches))

            return wrapper

        return [
            (external_sort, "key_matrix_table", timed(SPANS["normalize"])),
            (keys, "lexsort_indices", timed(SPANS["lexsort"])),
            (keys, "pack_columns_shared", timed(SPANS["pack"])),
            (vmerge, "merge_runs_packed", timed(SPANS["merge"])),
            (vmerge, "merge_runs_matrix", timed(SPANS["merge"])),
            (runs.RunStore, "write_run", write_run),
            (runs.RunStore, "read_run", timed(SPANS["spill_read"])),
            (external_sort.ExternalSorter, "sort_tables", sort_tables),
        ]

    def close(self) -> None:
        pass
