"""``registry_headline``: one pass over the 13 ``bench.HEADLINE`` queries.

Each query is built with ``queries.QUERIES[q](spark, sf)`` (including the
jobs a query runs while its plan is built) and then run.  The input is
the fixed sf0.01 table set shipped in ``data/sf0.01``, so the seed does
not change it.  On small inputs per-query fixed costs dominate: plan
build, driver-side jobs, Python worker start-up and scheduling.

The first (cold) pass runs each query into its
``atscale.spark_fingerprint``, a one-row aggregate over every output row
and column, so the whole result is computed as with a noop sink; each
fingerprint is compared with the DuckDB fingerprint of the query's
``oracle_sql``, computed after the pass, outside the timed region.  Warm
passes write to the noop sink, as ``bench.py`` does.
"""

from __future__ import annotations

import contextlib
import os
import time

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class RegistryHeadline:
    name = "registry_headline"
    min_warm = 1  # a warm pass takes 10 to 16 s; the run budget allows one

    def __init__(self, dirs, seed: int, ncores: int, tracer=None):
        import bench

        self.queries = list(bench.HEADLINE)
        self.dirs = dirs
        self.ncores = ncores
        self.tracer = tracer
        self.layer_counts: dict[str, float] = {}
        self.counter_history: list[dict] = []
        self.phases: dict[str, float] = {}

    def setup(self) -> float:
        import bench

        from harness import JobTally, SetupError, start_spark

        for t in TABLES:
            if not os.path.isfile(f"{SF_DIR}/{t}.parquet"):
                raise SetupError(f"missing input table {SF_DIR}/{t}.parquet")
        t0 = time.perf_counter()
        self.spark = start_spark(self.ncores)
        self.jobs = JobTally(self.spark)
        t1 = time.perf_counter()
        bench.warmup(self.spark, SF_DIR)
        t2 = time.perf_counter()
        self.phases = {"spark_start_s": t1 - t0, "warmup_s": t2 - t1}
        return t2 - t0

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _run_query(self, q: str, group: str, checked: bool):
        from external_merge_sort_loser_tree_ovc_spark.atscale import spark_fingerprint
        from external_merge_sort_loser_tree_ovc_spark.queries import QUERIES

        fp = None
        self.jobs.begin(group)
        try:
            with self._span(f"registry.{q}.build_s"):
                t0 = time.perf_counter()
                df = QUERIES[q](self.spark, SF_DIR)
                t1 = time.perf_counter()
            with self._span(f"registry.{q}.run_s"):
                if checked:
                    fp = tuple(spark_fingerprint(df).collect()[0])
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        finally:
            jobs, failed = self.jobs.end(group)
        return df.schema, fp, t1 - t0, t2 - t1, jobs, failed

    def iteration(self, i: int) -> tuple[float, list[str]]:
        checked = i == 0
        fps, schemas = {}, {}
        counters: dict[str, float] = {"spark.failed_tasks": 0}
        wall = 0.0
        with self._span("registry.pass"):
            for q in self.queries:
                schema, fp, build, run, jobs, failed = self._run_query(
                    q, f"{self.name}-{i}-{q}", checked
                )
                fps[q] = fp
                schemas[q] = [(f.name, f.dataType.simpleString()) for f in schema.fields]
                wall += build + run
                counters[f"registry.{q}.jobs"] = jobs
                counters["spark.failed_tasks"] += failed
                # release operator-internal persists between queries, as
                # bench.py does, outside the timed calls
                self.spark.catalog.clearCache()
        self.counter_history.append(counters)
        self.layer_counts = counters
        if not checked:
            return wall, []
        t0 = time.perf_counter()
        expected = duck_fingerprints(schemas, self.dirs.tmp)
        self.phases["oracle_s"] = time.perf_counter() - t0
        return wall, [
            f"{q}: spark fingerprint {fp} != duckdb {expected[q]}"
            for q, fp in fps.items()
            if fp != expected[q]
        ]

    def input_rows(self) -> int:
        """Rows in the input table set: a pass reads from all of it."""
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f"{SF_DIR}/{t}.parquet").metadata.num_rows for t in TABLES)

    def trace_patches(self):
        return []

    def close(self) -> None:
        from harness import stop_spark

        if getattr(self, "spark", None) is not None:
            stop_spark(self.spark)
            self.spark = None


def duck_fingerprints(schemas: dict[str, list], tmp: str) -> dict[str, tuple]:
    """DuckDB fingerprint of each query's oracle, over the Spark result's
    column names and types."""
    import duckdb

    from external_merge_sort_loser_tree_ovc_spark.atscale import duck_fingerprint_sql
    from external_merge_sort_loser_tree_ovc_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        return {
            q: tuple(con.execute(duck_fingerprint_sql(ORACLES[q], cols)).fetchone())
            for q, cols in schemas.items()
        }
    finally:
        con.close()
