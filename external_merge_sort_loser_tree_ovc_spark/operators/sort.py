"""Distributed external sort: range partition + per-partition OVC kernel.

The Spark mapping of the reference's Sort operator (SURVEY §1.3 / §3.4):

  repartitionByRange(keys)   — the shuffle takes the role of the
                               reference's process boundary/HDD transfer,
  mapInArrow(kernel)         — each task runs the vectorized OVC
                               loser-tree external sort (kernel/) over its
                               Arrow batch stream, spilling to
                               executor-local run files,
  partition order            — range partitions are emitted in key order,
                               so partition-sorted output is globally
                               sorted (same contract as df.orderBy).

Skew: ``salted_repartition_by_range`` adds a salt column so a single hot
key (one H3 cell with half the planet's pages) splits across adjacent
range partitions; the per-partition sort keeps the global (key, salt)
order contiguous, which downstream cell-merge operators re-unify — this
is exactly the reference's multi-run merge reused at the partition level
(SURVEY §7 risk list).

At 100 TB: the kernel only ever holds ``memory_budget_rows`` rows plus
one Arrow batch in memory per task; everything else is spilled run files,
so partition sizing is governed by disk, not RAM.  AQE remains enabled as
a backstop, but the salt is explicit per north_rule.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, functions as F

from ..kernel.external_sort import ExternalSorter

DEFAULT_BUDGET_ROWS = 1 << 20
DEFAULT_BATCH_ROWS = 1 << 16


def _partition_kernel(
    key_cols, budget, batch_rows, mode, checkpoint_dir, metrics_dir, checkpoint_inputs
):
    """Build the mapInArrow function (must be picklable, import-light)."""

    def run(iterator):
        import pyarrow as pa

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        if checkpoint_dir:
            spill = os.path.join(checkpoint_dir, f"partition={pid:05d}")
            cleanup = False
        else:
            from ..runtime import default_spill_root

            spill = tempfile.mkdtemp(
                prefix=f"emsort-p{pid}-", dir=default_spill_root()
            )
            cleanup = True
        sorter = ExternalSorter(
            key_cols=list(key_cols),
            spill_dir=spill,
            memory_budget_rows=budget,
            batch_rows=batch_rows,
            mode=mode,
            checkpoint_inputs=checkpoint_inputs,
        )
        try:
            tables = (pa.Table.from_batches([b]) for b in iterator)
            for out in sorter.sort_tables(tables):
                yield from out.to_batches()
        finally:
            if metrics_dir:
                os.makedirs(metrics_dir, exist_ok=True)
                doc = sorter.metrics.as_dict()
                doc["partition_id"] = pid
                doc["attempt"] = ctx.attemptNumber() if ctx is not None else 0
                tmp = os.path.join(metrics_dir, f".tmp-{uuid.uuid4().hex}")
                with open(tmp, "w") as f:
                    json.dump(doc, f)
                os.replace(tmp, os.path.join(metrics_dir, f"partition-{pid:05d}.json"))
            if cleanup:
                shutil.rmtree(spill, ignore_errors=True)

    return run


def external_sort_df(
    df: DataFrame,
    keys: list[str],
    *,
    num_partitions: int | None = None,
    memory_budget_rows: int = DEFAULT_BUDGET_ROWS,
    batch_rows: int = DEFAULT_BATCH_ROWS,
    mode: str = "fast",
    checkpoint_dir: str | None = None,
    skip_shuffle: bool = False,
) -> DataFrame:
    """Globally sort ``df`` by ``keys`` (ascending, nulls first) using the
    OVC kernel.  Functionally equivalent to ``df.orderBy(*keys)`` — the
    pytest suite asserts exactly that — but executes the sort in our
    instrumented kernel with spill/merge metrics and optional
    checkpoint/resume.

    Range-partitions with ``df.repartitionByRange(num_partitions, *keys)``
    (one Exchange; Spark samples the bounds when the plan runs), then
    sorts each partition with the kernel through ``mapInArrow``.
    ``num_partitions`` defaults to ``spark.sql.shuffle.partitions``.

    ``skip_shuffle=True`` sorts within existing partitions only (useful
    after an upstream salted range partition).
    """
    if not skip_shuffle:
        n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartitionByRange(n, *[F.col(k) for k in keys])
    metrics_dir = os.path.join(checkpoint_dir, "_metrics") if checkpoint_dir else None
    fn = _partition_kernel(
        keys,
        memory_budget_rows,
        batch_rows,
        mode,
        checkpoint_dir,
        metrics_dir,
        checkpoint_inputs=checkpoint_dir is not None,
    )
    # mapInArrow: the kernel is Arrow-native — skip Spark's
    # arrow<->pandas conversion entirely (strings stay in Arrow buffers)
    return df.mapInArrow(fn, schema=df.schema)


_NUMERIC_KEY_TYPES = {"tinyint", "smallint", "int", "bigint"}
_IDENTITY_KEYS_CACHE: dict[int, list[int]] = {}


def _identity_shuffle_keys(spark, n: int) -> list[int] | None:
    """x_t per target partition t with pmod(murmur3(x_t), n) == t, so
    ``repartition(n, key)`` places bucket t in partition t exactly.
    One tiny deterministic job per distinct n (murmur3 is fixed, so the
    table is process-cacheable); F.hash is the same Murmur3(seed=42)
    that HashPartitioning uses.

    Returns None when even a widened scan leaves the preimage table
    incomplete (astronomically unlikely at 4096n candidates, but a crash
    would be the wrong failure mode) — the caller then degrades to
    repartitionByRange instead of dying mid-job."""
    if n in _IDENTITY_KEYS_CACHE:
        return _IDENTITY_KEYS_CACHE[n]
    for span in (64 * n, 4096 * n):
        rows = (
            spark.range(0, max(span, 1024))
            .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(n)).alias("t"))
            .groupBy("t")
            .agg(F.min("id").alias("x"))
            .collect()
        )
        lut = {int(r["t"]): int(r["x"]) for r in rows}
        if len(lut) == n:
            xs = [lut[t] for t in range(n)]
            _IDENTITY_KEYS_CACHE[n] = xs
            return xs
    return None


def salted_repartition_by_range(
    df: DataFrame,
    keys: list[str],
    *,
    salt_buckets: int = 8,
    num_partitions: int | None = None,
    salt_col: str = "_salt",
    sample_mod: int = 16,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """Range partition on (key, salt) so hot keys split across
    partitions while global key order stays contiguous.

    The salt is a deterministic hash of the whole row (xxhash64 of all
    columns) mod ``salt_buckets`` — task-retry idempotent, unlike
    ``rand()``.  Equal keys land in up to ``salt_buckets`` adjacent range
    partitions; a downstream per-key merge (groupBy or the kernel's
    multi-run merge) re-unifies them.

    Unlike ``repartitionByRange`` (whose range bounds come from a sample
    seeded by the RDD id, so two runs of the SAME job deal rows
    differently — silently defeating fingerprint-verified checkpoint
    replay), this partitioner is fully deterministic for a single
    integer key: bucket bounds are quantiles of the combined
    (key * salt_buckets + salt) value, the bucket id is an explicit
    column, and an identity murmur3-preimage mapping pins bucket i to
    partition i (partition order == key-range order).  Non-integer or
    multi-column keys fall back to ``repartitionByRange``.
    """
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # hash_cols: the row-identity columns fed to BOTH per-row hashes
    # (salt + sample filter).  Default = all columns (always correct);
    # callers whose schema carries a wide payload (e.g. page text) can
    # pass a narrow identity set — the salt/sample only need to be
    # row-granular and deterministic, and hashing kilobytes of text
    # twice per row is pure waste at 100 TB.
    hcols = list(hash_cols) if hash_cols else list(df.columns)
    salted = df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in hcols]), F.lit(salt_buckets))
    )
    dtypes = dict(df.dtypes)
    if len(keys) != 1 or dtypes.get(keys[0]) not in _NUMERIC_KEY_TYPES or n < 2:
        parted = salted.repartitionByRange(n, *[F.col(k) for k in keys], F.col(salt_col))
        return parted.drop(salt_col)

    # composite order = (key, salt) LEXICOGRAPHIC.  The driver composes
    # ck = key * salt_buckets + salt in arbitrary-precision Python ints
    # (sample-side only); the per-row Spark expressions compare (key,
    # salt) tuple-wise against decomposed bounds — no int64 key
    # multiplication anywhere in the row path, so extreme key domains
    # (|key| > 2^63/salt_buckets) cannot silently wrap (r2 advice).
    # bounds from a CONTENT-hash sample + exact driver-side quantiles:
    # - content-based filter (xxhash64 of the key mod m) selects the
    #   same rows regardless of partition layout or RDD ids — unlike
    #   df.sample(seed), whose per-partition RNG makes two differently-
    #   partitioned runs sample different rows;
    # - exact quantiles of the collected sample avoid approxQuantile's
    #   sketch-merge order (cluster task-completion order is not
    #   stable), which could shift a bound between reruns and silently
    #   defeat fingerprint-verified checkpoint replay.
    # The sample is capped (~hash-rate 1/16) and only the sampled rows
    # pay the salt hash.

    # the sample hash must be ROW-granular (all columns), not key-
    # granular: a hot key shared by 50% of rows is all-or-nothing under
    # a key hash, so the sample would miss it entirely and the bounds
    # could never split it across partitions
    samp = df.filter(
        F.pmod(
            F.xxhash64(*[F.col(c) for c in hcols], F.lit(1337)),
            F.lit(sample_mod),
        )
        == 0
    ).withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in hcols]), F.lit(salt_buckets)),
    )

    def _collect_composites(src) -> list[int]:
        # the limit() caps driver memory at any input size; whenever the
        # hash sample fits under it (size the sample_mod for ~<=256k
        # sampled rows) the collected set — and therefore the bounds —
        # is exactly reproducible.  If the cap ever truncates, bounds
        # may differ between runs and the kernel's fingerprint-verified
        # resume safely recomputes instead of replaying.
        # Arrow collect (toPandas): the row-based py4j collect measured
        # ~0.4 s for the same sample; the composite fold is vectorized
        pdf = (
            src.select(
                F.col(keys[0]).cast("bigint").alias("_k"), F.col(salt_col).alias("_s")
            )
            # null keys dropped SPARK-side so the collected column stays
            # int64 (a NaN would coerce it to float64 and corrupt keys
            # past 2^53); null rows route to bucket 0 anyway
            .filter(F.col("_k").isNotNull())
            .limit(1 << 18)
            .toPandas()
        )
        ks = pdf["_k"].to_numpy(dtype="int64")
        ss = pdf["_s"].to_numpy(dtype="int64")
        return sorted(int(k) * salt_buckets + int(s) for k, s in zip(ks, ss))

    vals = _collect_composites(samp)
    if len(vals) < 4 * n:  # degenerate tiny input: use the full data
        vals = _collect_composites(salted)
    if len(vals) == 0:
        return salted.repartition(n).drop(salt_col)
    m = len(vals)
    # exact "lower" quantiles of the sorted sample (same element
    # np.quantile(method="lower") would pick), in Python ints
    bounds = [vals[(i * (m - 1)) // n] for i in range(1, n)]
    xs = _identity_shuffle_keys(df.sparkSession, n)
    if xs is None:  # preimage table incomplete: degrade, don't crash
        parted = salted.repartitionByRange(n, *[F.col(k) for k in keys], F.col(salt_col))
        return parted.drop(salt_col)
    # bucket id via a codegen'd CASE ladder (a lambda over an array
    # literal would run interpreted per row).  Each bound decomposes
    # back into (key_bound, salt_bound); the row-side test is the
    # overflow-free tuple compare  key < kb  OR  (key == kb AND salt <=
    # sb).  NULL keys route to bucket 0: the kernel sorts nulls FIRST,
    # so nulls-first global order holds across partition ids
    # (repartitionByRange semantics).
    key_c = F.col(keys[0]).cast("bigint")
    pid = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        kb, sb = divmod(int(bounds[i]), salt_buckets)
        cond = (key_c < F.lit(kb)) | (
            (key_c == F.lit(kb)) & (F.col(salt_col) <= F.lit(sb))
        )
        pid = F.when(cond, F.lit(i)).otherwise(pid)
    pid = F.when(F.col(keys[0]).isNull(), F.lit(0)).otherwise(pid)
    # murmur3 is TYPE-sensitive: the preimage table hashed BIGINTs, so
    # the literals must be BIGINT too or the mapping silently scrambles
    part_key = F.element_at(
        F.array(*[F.lit(x).cast("bigint") for x in xs]), (pid + 1).cast("int")
    )
    return (
        salted.withColumn("_pk", part_key)
        .repartition(n, F.col("_pk"))
        .drop(salt_col, "_pk")
    )


def read_lineage(spark, checkpoint_dir: str) -> DataFrame:
    """Per-partition lineage/metrics table for a checkpointed sort run —
    the north_rule's 'per-partition lineage + metrics'.  One row per
    partition: rows in/out, runs (W), fan-in (B), X, depth, passes,
    spill rows, comparison counts, resume flag."""
    path = os.path.join(checkpoint_dir, "_metrics")
    return spark.read.json(f"file://{path}/partition-*.json")
