"""Table metadata without Spark jobs: schemas come from one parquet
footer on the driver (sinks.read_table), and the one-row checkpoint
tables (since_ids, migrations) are read and written with pyarrow."""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.conf import RuntimeConfig

from twitter_to_sqlite_spark.database import TweetDatabase
from twitter_to_sqlite_spark.operators import checkpoint as C
from twitter_to_sqlite_spark.operators import sinks as S


def jobs_started(spark, fn):
    """``fn()``'s result and the Spark jobs started while it ran,
    counted by job group. A sentinel job in a second group closes the
    window: the listener bus delivers events in order, so once the
    sentinel is visible every earlier job is."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    group = f"metadata-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, "table metadata check")
        result = fn()
        sc.setJobGroup(f"{group}-end", "sentinel")
        spark.range(1).collect()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(f"{group}-end"):
            assert time.monotonic() < deadline, "sentinel job not seen"
            time.sleep(0.05)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(tracker.getJobIdsForGroup(group))


def _flat(spark, path):
    spark.createDataFrame([(1, "a", 1.5)], "id long, v string, x double") \
        .write.parquet(path)


def _nested(spark, path):
    spark.createDataFrame(
        [(1, [1, 2], {"k": "v"}, (3, "s"))],
        "id long, xs array<int>, m map<string,string>, "
        "st struct<n:int,s:string>").write.parquet(path)


def _partitioned(days):
    def write(spark, path):
        spark.createDataFrame(
            [(i, d) for i, d in enumerate(days)], "id long, day string") \
            .write.partitionBy("day").parquet(path)
    return write


def _keyless(spark, path):
    os.makedirs(path)
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "v": pa.array(["a", None])}),
                   os.path.join(path, "part-0.parquet"))


TABLES = {
    "flat": _flat,
    "nested": _nested,
    "date_partitions": _partitioned(["2020-01-01", "2020-01-02"]),
    "unknown_and_date_partitions": _partitioned(["2020-01-01", "unknown"]),
    "null_partition": _partitioned(["2020-01-01", None]),
    "keyless": _keyless,
}


@pytest.mark.parametrize("name", sorted(TABLES))
def test_footer_schema_equals_inferred_schema(spark, tmp_path, name):
    """read_table declares the schema spark.read.parquet would infer,
    partition column types included; only the table without Spark's
    footer key pays an inference job."""
    path = str(tmp_path / name)
    TABLES[name](spark, path)
    df, jobs = jobs_started(spark, lambda: S.read_table(spark, path))
    assert df.schema == spark.read.parquet(path).schema
    assert jobs == (1 if name == "keyless" else 0)
    assert sorted(map(str, df.collect())) == \
        sorted(map(str, spark.read.parquet(path).collect()))


def test_reads_and_checkpoints_start_no_spark_job(spark, tmp_path):
    db = TweetDatabase(spark, str(tmp_path / "db"))
    _partitioned(["2020-01-01", "unknown"])(spark, db.path("tweets"))
    _flat(spark, db.path("users"))
    runner = C.MigrationRunner(spark, db.path("migrations"))

    def metadata_work():
        db.read("tweets")
        db.read("users")
        assert db.watermarks.get("user", "1") is None
        db.watermarks.set("user", "1", 10)
        db.watermarks.set("user", "1", 5)
        assert db.watermarks.get("user", "1") == 10
        assert runner.applied() == set()
        assert runner.run([("m1", lambda s: None)]) == ["m1"]
        assert runner.applied() == {"m1"}
        db.read("since_ids")
        db.read("migrations")

    assert jobs_started(spark, metadata_work) == (None, 0)


def test_upserts_and_compaction_never_set_session_conf(spark, tmp_path,
                                                       monkeypatch):
    """Write paths read partition values verbatim by declaring them
    strings, not by toggling session-global partition inference."""
    calls = []
    for method in ("set", "unset"):
        monkeypatch.setattr(RuntimeConfig, method,
                            lambda self, *a, m=method: calls.append((m, a)))
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    for ver in (1, 2):
        batch = spark.createDataFrame(
            [(ver, "00", ver), (10 + ver, "01", ver)],
            "id long, day string, ver long")
        S.write_upsert(spark, batch, flat, ["id"], "ver")
        S.write_upsert(spark, batch.repartition(4), part,
                                   ["id"], "ver", "day")
    assert S.compact_table(spark, part, target_bytes=1 << 20)
    assert calls == []
    got = {(r["id"], r["day"]) for r in spark.read.schema(
        "id long, ver long, day string").parquet(part).collect()}
    assert got == {(1, "00"), (2, "00"), (11, "01"), (12, "01")}


def test_checkpoint_tables_written_by_spark_are_read_and_advanced(spark,
                                                                  tmp_path):
    """Tables the Spark writer left (part files, _SUCCESS, .crc) are
    read and advanced on the driver; what the driver writes reads the
    same through Spark, with the same columns and types."""
    db = TweetDatabase(spark, str(tmp_path / "db"))
    since = db.path("since_ids")
    spark.createDataFrame([(1, "101", 900), (4, "q", 5)],
                          "type int, key string, since_id long") \
        .coalesce(1).write.parquet(since)
    assert "_SUCCESS" in os.listdir(since)
    assert any(f.endswith(".crc") for f in os.listdir(since))
    old_schema = spark.read.parquet(since).schema

    assert db.watermarks.get("user", "101") == 900
    assert db.watermarks.get("search", "q") == 5
    db.watermarks.set("user", "101", 950)
    db.watermarks.set("home", "feed", 7)
    want = [(1, "101", 950), (2, "feed", 7), (4, "q", 5)]
    assert sorted(map(tuple, spark.read.schema(C.SINCE_IDS_SCHEMA)
                      .parquet(since).collect())) == want
    assert sorted(map(tuple, db.read("since_ids").collect())) == want
    assert db.read("since_ids").schema == old_schema
    assert spark.read.parquet(since).schema == old_schema

    log = db.path("migrations")
    spark.createDataFrame([("m001", "2020-01-01T00:00:00")],
                          "name string, applied string") \
        .coalesce(1).write.parquet(log)
    old_schema = spark.read.parquet(log).schema
    runner = C.MigrationRunner(spark, log)
    ran = []
    migs = [(n, lambda s, n=n: ran.append(n)) for n in ("m001", "m002")]
    assert runner.applied() == {"m001"}
    assert runner.run(migs) == ["m002"] and ran == ["m002"]
    assert runner.run(migs) == []
    applied = {r["name"]: r["applied"] for r in db.read("migrations").collect()}
    assert set(applied) == {"m001", "m002"}
    assert applied["m001"] == "2020-01-01T00:00:00"
    assert db.read("migrations").schema == old_schema
