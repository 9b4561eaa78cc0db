"""Spark-level external sort: equivalence with orderBy, witness invariants,
lineage metrics, salting, checkpoint/resume at the DataFrame level."""

import os

import pytest
from pyspark.sql import functions as F

from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
    external_sort_df,
    read_lineage,
    salted_repartition_by_range,
)
from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
    assert_globally_sorted,
    int_parity,
    witness_summary,
)

KEYS = ["l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"]


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_external_sort_matches_orderby(spark, lineitem):
    ours = external_sort_df(
        lineitem, KEYS, num_partitions=4, memory_budget_rows=2000, batch_rows=500
    )
    theirs = lineitem.orderBy(*KEYS)
    a = [tuple(r) for r in ours.select(*KEYS).collect()]
    b = [tuple(r) for r in theirs.select(*KEYS).collect()]
    assert a == b


def test_external_sort_null_and_non_ascii_keys_match_orderby(spark):
    """NULLs first in every key column, and strings in Spark's UTF-8
    byte order: multi-byte characters, an emoji (a UTF-16 surrogate
    pair, so UTF-16 order would put it before U+E000 and U+FF5E) and a
    decomposed accent next to their ASCII neighbours.  ~750 rows per
    partition against a 200-row budget, so every partition spills and
    merges runs."""
    import numpy as np
    import pandas as pd

    words = [None, "", "A", "a", "e", "é", "e\u0301", "f", "z",
             "éa", "日", "日本", "日本語",
             "\ue000", "\uff5e", "\U0001f600", "\U0001f600a"]
    ints = [None, -(1 << 40), -5, 0, 3, 1 << 40]
    rng = np.random.default_rng(4)
    n = 3000
    pdf = pd.DataFrame(
        {
            "s": [words[j] for j in rng.integers(0, len(words), n)],
            "i": pd.array([ints[j] for j in rng.integers(0, len(ints), n)], "Int64"),
            "v": np.arange(n, dtype=np.int64),
        }
    )
    df = spark.createDataFrame(pdf)
    keys = ["s", "i", "v"]  # v is unique: the order is total
    ours = external_sort_df(
        df, keys, num_partitions=4, memory_budget_rows=200, batch_rows=50
    ).collect()
    theirs = df.orderBy(*keys).collect()
    assert [tuple(r) for r in ours] == [tuple(r) for r in theirs]
    assert ours[0]["s"] is None and ours[-1]["s"] == "\U0001f600a"


def test_witness_invariants_roundtrip(spark, lineitem):
    """Reference Witness contract: count + parity in == out, output has
    zero inversions (Witness.cpp:39-63)."""
    before = witness_summary(lineitem)
    out = external_sort_df(
        lineitem, KEYS, num_partitions=4, memory_budget_rows=2000, batch_rows=500
    )
    out.cache()
    try:
        after = witness_summary(out)
        assert after == before
        rep = assert_globally_sorted(out, ["l_returnflag", "l_linestatus", "l_orderkey"])
        assert rep.rows.sum() == before["rows"]
    finally:
        out.unpersist()


def test_int_parity_matches_reference_formula(spark):
    df = spark.createDataFrame([(1, 2), (3, 4), (5, 6)], ["a", "b"])
    # xor over a<<0, b<<1: (1^3^5) ^ ((2^4^6)<<1) = 7 ^ (0<<1) = 7
    assert int_parity(df, ["a", "b"]) == (1 ^ 3 ^ 5) ^ ((2 ^ 4 ^ 6) << 1)


def test_lineage_metrics(spark, lineitem, tmp_path):
    ck = str(tmp_path / "ck")
    out = external_sort_df(
        lineitem,
        KEYS,
        num_partitions=2,
        memory_budget_rows=2000,
        batch_rows=500,
        checkpoint_dir=ck,
    )
    n = out.count()
    assert n == lineitem.count()
    lin = read_lineage(spark, ck).toPandas()
    assert len(lin) == 2
    assert lin.rows_in.sum() == n
    assert (lin.runs_formed >= 1).all()
    assert set(lin.columns) >= {
        "rows_in",
        "runs_formed",
        "fan_in",
        "initial_fan_in",
        "depth",
        "passes",
        "spill_rows",
        "partition_id",
    }


def test_salted_repartition_splits_hot_key(spark):
    """One hot key spanning >1 partition after salting (skew handling)."""
    df = spark.range(0, 20000).withColumn("cell", F.lit(42)).withColumn(
        "payload", F.col("id") % 100
    )
    parted = salted_repartition_by_range(df, ["cell"], salt_buckets=8, num_partitions=8)
    sizes = parted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    nonempty = [r for r in sizes if r["count"] > 0]
    assert len(nonempty) > 1, "hot key should split across partitions"
    assert sum(r["count"] for r in sizes) == 20000
    assert "_salt" not in parted.columns


def test_job_level_resume(spark, lineitem, tmp_path):
    """north_rule resumability: a re-run over the same checkpoint dir
    replays committed runs (resumed=True in every partition's lineage)
    instead of re-sorting.  Deterministic hash partitioning stands in
    for a task retry with identical input."""
    from pyspark.sql import functions as F

    from external_merge_sort_loser_tree_ovc_spark.operators.sort import (
        external_sort_df,
        read_lineage,
    )

    ckpt = str(tmp_path / "resume-ckpt")
    df = lineitem.repartition(4, F.col("l_orderkey"))
    keys = ["l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber"]

    out1 = external_sort_df(df, keys, checkpoint_dir=ckpt, skip_shuffle=True)
    n1 = out1.count()
    lin1 = read_lineage(spark, ckpt).toPandas()
    assert not lin1.resumed.any()

    out2 = external_sort_df(df, keys, checkpoint_dir=ckpt, skip_shuffle=True)
    n2 = out2.count()
    lin2 = read_lineage(spark, ckpt).toPandas()
    assert n1 == n2 == lineitem.count()
    assert lin2.resumed.all(), f"expected all partitions resumed: {lin2.resumed.tolist()}"


def test_salted_repartition_nulls_first_partition(spark):
    """NULL keys must land in partition 0 (the kernel sorts nulls FIRST
    within a partition, so nulls-first global order holds across
    partition ids — repartitionByRange semantics)."""
    import pandas as pd

    pdf = pd.DataFrame({"k": [None, 5, None, 100, 7, None, 950, 12, 600, 300] * 40,
                        "v": range(400)})
    df = spark.createDataFrame(pdf.astype({"k": "Int64"}))
    parted = salted_repartition_by_range(df, ["k"], salt_buckets=4, num_partitions=4)
    dist = (
        parted.withColumn("pid", F.spark_partition_id())
        .filter(F.col("k").isNull())
        .select("pid")
        .distinct()
        .collect()
    )
    assert {r["pid"] for r in dist} == {0}
    # global nulls-first sortedness through the kernel: zero inversions
    # inside every partition, and partition key-ranges non-overlapping
    # in partition-id order with all nulls in partition 0
    from external_merge_sort_loser_tree_ovc_spark.operators.sort import external_sort_df
    from external_merge_sort_loser_tree_ovc_spark.operators.witness import (
        sortedness_report,
    )

    out = external_sort_df(parted, ["k"], skip_shuffle=True)
    rep = sortedness_report(out, ["k"])
    assert int(rep.inversions.sum()) == 0
    ranges = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"),
             F.sum(F.col("k").isNull().cast("int")).alias("nulls"))
        .orderBy("pid")
        .collect()
    )
    assert all(r["nulls"] == 0 for r in ranges if r["pid"] != 0)
    nonempty = [r for r in ranges if r["lo"] is not None]
    for a, b in zip(nonempty, nonempty[1:]):
        assert a["hi"] <= b["lo"] + 0  # ranges ordered by partition id
