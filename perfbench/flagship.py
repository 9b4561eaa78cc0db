"""``flagship_uniform`` / ``flagship_hotcell``: the north-star job.

``plans.pipeline.flagship_pipeline`` over ``synth_pages(seed, scenario)``
pages.  Set-up writes the pages to parquet and every iteration reads
them back, standing in for the Iceberg table.  The oracle is computed
once during set-up, by DuckDB over the same parquet, from the package's
own SQL generators (``spatial.cells.sql_cell_expr``,
``spatial.pip.Polygon.sql_pip_expr``): page count, point-in-polygon hits
per polygon and the number of distinct raster tiles.  The pipeline also
asserts its own witness (row count and parity in == out) on every run.
"""

from __future__ import annotations

import time

PAGES = 100_000
PIP_RES = 6  # flagship_pipeline's pip_join resolution
TILE_ZOOM = 6  # flagship_pipeline's default tile_zoom
SCENARIOS = {"flagship_uniform": "geo_uniform", "flagship_hotcell": "geo_hotcell"}
COUNTERS = ["runs_formed", "merge_passes_max", "spill_rows", "ovc_compares", "col_compares"]


def duckdb_oracle(path: str, tmp: str) -> dict:
    """Page count, PIP hits per polygon and distinct tiles, in DuckDB."""
    import duckdb

    from external_merge_sort_loser_tree_ovc_spark.spatial.cells import sql_cell_expr
    from external_merge_sort_loser_tree_ovc_spark.spatial.pip import default_polygons

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        con.execute(f"CREATE VIEW pages AS SELECT lat, lon FROM read_parquet('{path}/*.parquet')")
        n = con.execute("SELECT COUNT(*) FROM pages").fetchone()[0]
        tiles = con.execute(
            f"SELECT COUNT(DISTINCT {sql_cell_expr('lat', 'lon', TILE_ZOOM)}) FROM pages"
        ).fetchone()[0]
        hits = {}
        for p in default_polygons():
            cover = ", ".join(str(int(c)) for c in p.cover_cells(PIP_RES))
            (cnt,) = con.execute(
                f"SELECT COUNT(*) FROM pages "
                f"WHERE {sql_cell_expr('lat', 'lon', PIP_RES)} IN ({cover}) "
                f"AND {p.sql_pip_expr('lon', 'lat')}"
            ).fetchone()
            if cnt:
                hits[p.poly_id] = int(cnt)
        return {"n_pages": int(n), "n_tiles": int(tiles), "pip_hits": hits}
    finally:
        con.close()


class Flagship:
    """One flagship scenario: set-up, one pipeline run per iteration, and
    the trace wrappers."""

    # the JIT still warms during the first warm iteration: the median of
    # three is then a warm one, not the mean of a warming and a warm one
    min_warm = 3

    def __init__(self, name: str, dirs, seed: int, ncores: int, tracer=None):
        self.name = name
        self.scenario = SCENARIOS[name]
        self.dirs = dirs
        self.seed = seed
        self.ncores = ncores
        self.tracer = tracer
        self.path = f"{dirs.data}/pages"
        self.layer_counts: dict[str, float] = {}
        self.counter_history: list[dict] = []
        self._trace_state: dict = {}
        self.phases: dict[str, float] = {}

    def setup(self) -> float:
        import bench

        from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

        from harness import JobTally, start_spark

        t0 = time.perf_counter()
        self.spark = start_spark(self.ncores)
        self.jobs = JobTally(self.spark)
        t1 = time.perf_counter()
        bench.warmup(self.spark, self.dirs.data)
        t2 = time.perf_counter()
        synth_pages(
            self.spark, PAGES, seed=self.seed, scenario=self.scenario,
            parallelism=self.ncores,
        ).write.mode("overwrite").parquet(self.path)
        t3 = time.perf_counter()
        self.oracle = duckdb_oracle(self.path, self.dirs.tmp)
        t4 = time.perf_counter()
        self.phases = {
            "spark_start_s": t1 - t0,
            "warmup_s": t2 - t1,
            "input_s": t3 - t2,
            "oracle_s": t4 - t3,
        }
        return t4 - t0

    def iteration(self, i: int) -> tuple[float, list[str]]:
        from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline

        group = f"{self.name}-{i}"
        self.jobs.begin(group)
        self._trace_state = {"witness_calls": 0, "persisted": []}
        try:
            pages = self.spark.read.parquet(self.path)
            t0 = time.perf_counter()
            if self.tracer is None:
                out = flagship_pipeline(self.spark, pages, num_partitions=self.ncores)
            else:
                with self.tracer.span("flagship.iteration"):
                    out = flagship_pipeline(self.spark, pages, num_partitions=self.ncores)
            wall = time.perf_counter() - t0
        finally:
            for df in self._trace_state["persisted"]:
                df.unpersist()
            self.spark.catalog.clearCache()
            jobs, failed = self.jobs.end(group)
        errors = []
        for key in ("n_pages", "n_tiles", "pip_hits"):
            if out[key] != self.oracle[key]:
                errors.append(f"{key}: pipeline {out[key]} != oracle {self.oracle[key]}")
        counters = {f"kernel.{k}": out[k] for k in COUNTERS}
        counters["spark.jobs"] = jobs
        counters["spark.failed_tasks"] = failed
        self.counter_history.append(counters)
        self.layer_counts.update(counters)
        return wall, errors

    def input_rows(self) -> int:
        return self.oracle["n_pages"]

    def trace_patches(self):
        """Wrap the layer functions ``plans.pipeline`` looks up at call
        time.  Lazy layers are materialized inside their span (encode);
        the partitioner's output is persisted so its shuffle is measured
        once, apart from the sort that reads it; layers whose work the
        pipeline triggers itself get a trailing span."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from external_merge_sort_loser_tree_ovc_spark.plans import pipeline

        tr = self.tracer

        def encode(orig):
            def with_morton(df, *a, **k):
                with tr.span("spatial.encode_s"):
                    out = orig(df, *a, **k)
                    out.write.format("noop").mode("overwrite").save()
                return out

            return with_morton

        def witness(orig):
            def witness_summary(df, *a, **k):
                n = self._trace_state["witness_calls"]
                self._trace_state["witness_calls"] = n + 1
                name = "operators.witness_in_s" if n == 0 else "operators.witness_out_s"
                with tr.span(name):
                    return orig(df, *a, **k)

            return witness_summary

        def partition(orig):
            def salted_repartition_by_range(df, *a, **k):
                with tr.span("operators.partition_plan_s"):
                    out = orig(df, *a, **k)
                with tr.span("operators.partition_shuffle_s"):
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    self._trace_state["persisted"].append(out)
                    sizes = [
                        r["count"]
                        for r in out.groupBy(F.spark_partition_id()).count().collect()
                    ]
                parts = k["num_partitions"]
                self.layer_counts["operators.partition_skew"] = (
                    max(sizes) * parts / sum(sizes) if sizes else 0.0
                )
                return out

            return salted_repartition_by_range

        def trailing(name):
            def factory(orig):
                def wrapper(*a, **k):
                    tr.begin(name)
                    return orig(*a, **k)

                return wrapper

            return factory

        return [
            (pipeline, "with_morton", encode),
            (pipeline, "witness_summary", witness),
            (pipeline, "salted_repartition_by_range", partition),
            (pipeline, "external_sort_df", trailing("operators.sort_s")),
            (pipeline, "pip_join", trailing("spatial.pip_join_s")),
            (pipeline, "with_tile", trailing("spatial.tile_s")),
        ]

    def close(self) -> None:
        from harness import stop_spark

        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)
            self.spark = None
