"""Partition-pruned upsert tests: a batch touching one partition must
not rewrite (or even read) the others — the property that keeps MERGE
cost proportional to the batch at 100 TB."""

from __future__ import annotations

import glob
import os

from twitter_to_sqlite_spark.operators import sinks as S


def _files(path, part):
    return sorted(glob.glob(f"{path}/day={part}/*.parquet"))


def test_partitioned_upsert_rewrites_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "tweets")
    seed = spark.createDataFrame(
        [(1, "a", "2020-01-01"), (2, "b", "2020-01-02"), (3, "c", "2020-01-03")],
        "id long, v string, day string",
    ).withColumn("__batch", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(1).cast("long"))
    S.write_upsert(spark, seed, path, ["id"], "__batch", "day")
    assert sorted(os.listdir(path)) >= ["day=2020-01-01", "day=2020-01-02", "day=2020-01-03"]

    before = {d: _files(path, d) for d in ("2020-01-01", "2020-01-02", "2020-01-03")}
    mtimes_before = {d: [os.path.getmtime(f) for f in fs] for d, fs in before.items()}

    from pyspark.sql import functions as F

    batch = spark.createDataFrame(
        [(2, "b2", "2020-01-02"), (9, "new", "2020-01-02")],
        "id long, v string, day string",
    ).withColumn("__batch", F.lit(2).cast("long"))
    S.write_upsert(spark, batch, path, ["id"], "__batch", "day")

    # partition-type inference reads `day` back as DATE; normalize
    out = {r["id"]: (r["v"], str(r["day"])) for r in spark.read.parquet(path).collect()}
    assert out == {
        1: ("a", "2020-01-01"),
        2: ("b2", "2020-01-02"),
        3: ("c", "2020-01-03"),
        9: ("new", "2020-01-02"),
    }
    # untouched partitions: identical files, same mtimes
    for d in ("2020-01-01", "2020-01-03"):
        assert _files(path, d) == before[d]
        assert [os.path.getmtime(f) for f in before[d]] == mtimes_before[d]
    # touched partition: rewritten
    assert _files(path, "2020-01-02") != before["2020-01-02"]


def test_partitioned_upsert_prunes_read(spark, tmp_path):
    """The merge's read side must contain a partition filter so only
    touched directories are scanned."""
    path = str(tmp_path / "t2")
    from pyspark.sql import functions as F

    seed = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id long, v string, day string"
    ).withColumn("__batch", F.lit(1).cast("long"))
    S.write_upsert(spark, seed, path, ["id"], "__batch", "day")

    existing = spark.read.parquet(path).filter(F.col("day").isin(["d2"]))
    plan = existing._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "d2" in plan


def test_partitioned_upsert_null_partition_preserved(spark, tmp_path):
    """A NULL partition value in the batch must MERGE with, not
    replace, the stored null partition (__HIVE_DEFAULT_PARTITION__):
    a plain isin() filter silently drops NULL rows from the existing
    side and the swap then deletes them."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(1, "a", None), (2, "b", "2020-01-02")],
        "id long, v string, day string",
    ).withColumn("__batch", F.lit(1).cast("long"))
    S.write_upsert(spark, seed, path, ["id"], "__batch", "day")

    batch = spark.createDataFrame(
        [(9, "n", None)], "id long, v string, day string"
    ).withColumn("__batch", F.lit(2).cast("long"))
    S.write_upsert(spark, batch, path, ["id"], "__batch", "day")

    # partition-type inference reads `day` back as DATE; normalize
    out = {
        r["id"]: (r["v"], str(r["day"]) if r["day"] is not None else None)
        for r in spark.read.parquet(path).collect()
    }
    assert out == {
        1: ("a", None),          # pre-existing null-partition row survives
        2: ("b", "2020-01-02"),
        9: ("n", None),
    }
