"""Sink-semantics tests (SURVEY §2.2 K1-K5, §2.8 C1-C3): the SQLite
INSERT OR REPLACE / OR IGNORE behaviors the reference relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitter_to_sqlite_spark.operators import checkpoint as C
from twitter_to_sqlite_spark.operators import sinks as S


def test_upsert_last_write_wins(spark):
    existing = spark.createDataFrame(
        [(1, "old", 10), (2, "keep", 11)], "id long, v string, ver long"
    )
    incoming = spark.createDataFrame(
        [(1, "new", 12), (3, "ins", 12)], "id long, v string, ver long"
    )
    out = {r["id"]: r["v"] for r in S.upsert_plan(existing, incoming, ["id"], "ver").collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_upsert_within_batch_dup_deterministic(spark):
    # SURVEY §7.3 hard-part 3: same pk twice in one batch — the later
    # (higher version) write wins; incoming beats existing on ties.
    existing = spark.createDataFrame([(1, "stored", 5)], "id long, v string, ver long")
    incoming = spark.createDataFrame(
        [(1, "first", 5), (1, "second", 6)], "id long, v string, ver long"
    )
    out = S.upsert_plan(existing, incoming, ["id"], "ver").collect()
    assert len(out) == 1 and out[0]["v"] == "second"
    # tie on version: incoming wins over existing
    inc2 = spark.createDataFrame([(1, "tie", 5)], "id long, v string, ver long")
    out2 = S.upsert_plan(existing, inc2, ["id"], "ver").collect()
    assert out2[0]["v"] == "tie"


def test_insert_if_absent_preserves_first_seen(spark):
    # following-table semantics (utils.py:459-469): first_seen survives
    existing = spark.createDataFrame(
        [(100, 200, "2020-01-01")], "followed_id long, follower_id long, first_seen string"
    )
    incoming = spark.createDataFrame(
        [(100, 200, "2020-06-06"), (100, 201, "2020-06-06")],
        "followed_id long, follower_id long, first_seen string",
    )
    out = {
        (r["followed_id"], r["follower_id"]): r["first_seen"]
        for r in S.insert_if_absent_plan(
            existing, incoming, ["followed_id", "follower_id"]
        ).collect()
    }
    assert out == {(100, 200): "2020-01-01", (100, 201): "2020-06-06"}


def test_hash_id_collapses_identical_rows(spark):
    df = spark.createDataFrame(
        [("Example Web", "https://web.example.com")] * 3
        + [("Example Mobile", "https://mobile.example.com")],
        "name string, url string",
    )
    out = S.hash_id_plan(df, id_col="id").collect()
    assert len(out) == 2
    assert all(len(r["id"]) == 40 for r in out)


def test_m2m_bridge_plan(spark):
    df = spark.createDataFrame(
        [(9003, 7001), (9003, 7001), (9004, 7001)], "tid long, mid long"
    )
    out = {(r["media_id"], r["tweets_id"])
           for r in S.m2m_bridge_plan(df, "mid", "tid", "media", "tweets").collect()}
    assert out == {(7001, 9003), (7001, 9004)}


def test_write_upsert_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "id long, v string, ver long")
    S.write_upsert(spark, b1, path, ["id"], "ver")
    b2 = spark.createDataFrame([(2, "b2", 2), (3, "c", 2)], "id long, v string, ver long")
    S.write_upsert(spark, b2, path, ["id"], "ver")
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_watermark_store_monotonic(spark, tmp_path):
    ws = C.WatermarkStore(spark, str(tmp_path / "since_ids"))
    assert ws.get("user", "101") is None
    ws.set("user", "101", 900)
    ws.set("user", "101", 850)  # lower: ignored (running max)
    assert ws.get("user", "101") == 900
    ws.set("search", "abc", 5)
    assert ws.get("search", "abc") == 5
    assert ws.get("user", "101") == 900


def test_watermark_advance_from_batch(spark, tmp_path):
    ws = C.WatermarkStore(spark, str(tmp_path / "since_ids"))
    df = spark.createDataFrame([(3,), (9,), (7,)], "id long")
    assert ws.advance_from(df, "home", "feed") == 9
    assert ws.get("home", "feed") == 9


def test_watermark_concurrent_writers_keep_every_key(spark, tmp_path):
    """Writers on one since_ids table (two syncs, or a sync plus a
    capture) must not drop each other's rows: set() reads, merges and
    swaps under the table lock, so every key survives with its running
    maximum. More writer threads than cores, with a short switch
    interval, so unlocked read-merge-swaps would interleave."""
    import os
    import sys
    import threading

    ws = C.WatermarkStore(spark, str(tmp_path / "since_ids"))
    n = (os.cpu_count() or 1) + 1
    start = threading.Barrier(n)
    errors = []

    def writer(i):
        try:
            start.wait(timeout=60)
            for v in (10 + i, 30 + i, 20 + i):
                ws.set("user", f"id:{i}", v)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert {i: ws.get("user", f"id:{i}") for i in range(n)} == {
        i: 30 + i for i in range(n)}


def test_migration_runner_applied_once(spark, tmp_path):
    runs = []
    migs = [
        ("m001_first", lambda s: runs.append("m001")),
        ("m002_second", lambda s: runs.append("m002")),
    ]
    mr = C.MigrationRunner(spark, str(tmp_path / "migrations"))
    assert mr.run(migs) == ["m001_first", "m002_second"]
    assert mr.run(migs) == []  # idempotent re-run (migrations.py semantics)
    assert runs == ["m001", "m002"]
    assert mr.applied() == {"m001_first", "m002_second"}


def test_write_upsert_never_materializes_on_driver(spark, tmp_path, monkeypatch):
    """The merged table must never cross the driver: no collect() of a
    wide DataFrame, no createDataFrame, anywhere in the write path
    (VERDICT r1 #1 — the old collect()/createDataFrame rewrite capped
    tables at spark.driver.maxResultSize)."""
    from pyspark.sql import DataFrame, SparkSession

    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "id long, v string, ver long")
    S.write_upsert(spark, b1, path, ["id"], "ver")

    orig_collect = DataFrame.collect

    def guarded_collect(self):
        if len(self.columns) > 1:
            raise AssertionError("wide collect() inside the write path")
        return orig_collect(self)

    def no_create(*a, **k):
        raise AssertionError("createDataFrame inside the write path")

    b2 = spark.createDataFrame([(2, "b2", 2), (3, "c", 2)], "id long, v string, ver long")
    monkeypatch.setattr(DataFrame, "collect", guarded_collect)
    monkeypatch.setattr(SparkSession, "createDataFrame", no_create)
    S.write_upsert(spark, b2, path, ["id"], "ver")
    monkeypatch.undo()
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_write_upsert_partitioned_never_materializes_on_driver(spark, tmp_path, monkeypatch):
    """Partitioned MERGE: only the single-column touched-partition probe
    may collect; merged rows stay executor-side."""
    from pyspark.sql import DataFrame, SparkSession

    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [(1, "a", "d1", 1), (2, "b", "d2", 1)], "id long, v string, day string, ver long"
    )
    S.write_upsert(spark, b1, path, ["id"], "ver", "day")

    orig_collect = DataFrame.collect

    def guarded_collect(self):
        if len(self.columns) > 1:
            raise AssertionError("wide collect() inside the write path")
        return orig_collect(self)

    def no_create(*a, **k):
        raise AssertionError("createDataFrame inside the write path")

    b2 = spark.createDataFrame(
        [(2, "b2", "d2", 2), (3, "c", "d3", 2)], "id long, v string, day string, ver long"
    )
    monkeypatch.setattr(DataFrame, "collect", guarded_collect)
    monkeypatch.setattr(SparkSession, "createDataFrame", no_create)
    S.write_upsert(spark, b2, path, ["id"], "ver", "day")
    monkeypatch.undo()
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}
    # untouched partition d1 still present, merged d2 replaced in place
    days = {r["day"] for r in spark.read.parquet(path).select("day").distinct().collect()}
    assert days == {"d1", "d2", "d3"}


def test_concurrent_upserts_serialize_on_table_lock(spark, tmp_path):
    """Two writers upserting the same table concurrently must serialize
    on the table lock — the final table reflects BOTH batches (VERDICT
    r2 #2: interleaved rename swaps could drop one writer's rows)."""
    import threading

    path = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([(0, "seed", 0)], "id long, v string, ver long")
    S.write_upsert(spark, b0, path, ["id"], "ver")

    errs = []

    def writer(lo, tag):
        try:
            b = spark.createDataFrame(
                [(i, tag, 1) for i in range(lo, lo + 50)], "id long, v string, ver long"
            )
            S.write_upsert(spark, b, path, ["id"], "ver")
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(100, "a")),
          threading.Thread(target=writer, args=(200, "b"))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(out) == 101
    assert out[0] == "seed" and out[100] == "a" and out[249] == "b"
    import os
    assert not [d for d in os.listdir(str(tmp_path)) if "__lock" in d]


def test_table_lock_breaks_stale_lock_and_times_out_on_live(tmp_path):
    import os

    path = str(tmp_path / "tbl")
    # Stale: pid that cannot exist — lock is broken and acquired.
    with open(f"{path}.__lock", "w") as f:
        f.write('{"pid": 99999999}')
    with S.table_lock(path, timeout=5):
        assert os.path.exists(f"{path}.__lock")
    assert not os.path.exists(f"{path}.__lock")
    # Live holder (our own pid): second acquire times out cleanly.
    with open(f"{path}.__lock", "w") as f:
        f.write(f'{{"pid": {os.getpid()}}}')
    import pytest as _pytest
    with _pytest.raises(S.ConcurrentWriteError, match="table left untouched"):
        with S.table_lock(path, timeout=0.3):
            pass
    os.unlink(f"{path}.__lock")


def test_write_swap_failed_swap_restores_original(spark, tmp_path, monkeypatch):
    """If the tmp→path rename fails mid-swap, the displaced original
    must be renamed back and the fresh tmp left on disk — no code path
    may delete the only surviving copy (ADVICE r2: the old finally
    block rmtree'd both, losing the table)."""
    import os as _os

    path = str(tmp_path / "tbl")
    spark.range(10).write.parquet(path)
    real_rename = _os.rename

    def failing_rename(src, dst):
        if src.startswith(f"{path}.__tmp"):
            raise OSError("simulated cross-device failure")
        return real_rename(src, dst)

    doubled = spark.read.parquet(path).withColumn("id", F.col("id") * 2)
    monkeypatch.setattr(S.os, "rename", failing_rename)
    import pytest as _pytest
    with _pytest.raises(OSError, match="simulated"):
        S.write_swap(doubled, path)
    monkeypatch.undo()
    # Original restored intact; fresh data preserved in a __tmp dir.
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(10))
    import os
    leftovers = [d for d in os.listdir(str(tmp_path)) if "__tmp" in d]
    assert leftovers, "fresh tmp data must be kept for recovery"
    assert not [d for d in os.listdir(str(tmp_path)) if "__old" in d]


def test_write_swap_overwrites_plan_reading_own_path(spark, tmp_path):
    """write_swap lets a plan that reads from the target path rewrite
    that same path (the case that forced the old driver materialize)."""
    path = str(tmp_path / "tbl")
    spark.range(100).write.parquet(path)
    doubled = spark.read.parquet(path).withColumn("id", F.col("id") * 2)
    S.write_swap(doubled, path)
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == [i * 2 for i in range(100)]
    import os
    assert not [d for d in os.listdir(str(tmp_path)) if "__tmp" in d or "__old" in d]


def test_fresh_empty_lock_is_respected_not_broken(tmp_path):
    """A just-created empty lock file is a writer mid-create, NOT a
    stale lock: contenders must poll (and time out), never delete it —
    the race that once let two same-process writers both proceed."""
    import os

    path = str(tmp_path / "tbl")
    lock = f"{path}.__lock"
    os.makedirs(str(tmp_path), exist_ok=True)
    open(lock, "w").close()  # empty: as if between O_EXCL and json write
    with pytest.raises(S.ConcurrentWriteError):
        with S.table_lock(path, timeout=0.5, poll=0.05):
            pass
    assert os.path.exists(lock)  # still there, untouched


def test_old_empty_lock_is_broken_after_grace(tmp_path):
    """An empty lock OLDER than the grace window is a crash artifact
    (holder died between create and write) — it must be broken so the
    table stays writable."""
    import os

    path = str(tmp_path / "tbl")
    lock = f"{path}.__lock"
    open(lock, "w").close()
    old = __import__("time").time() - 60
    os.utime(lock, (old, old))
    with S.table_lock(path, timeout=5.0, poll=0.05):
        pass  # acquired: the stale artifact was claimed and removed
    assert not os.path.exists(lock)


def test_compact_table_merges_small_files(spark, tmp_path):
    import os

    path = str(tmp_path / "tbl")
    df = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(path)

    def parquet_files():
        return [f for r, _d, fs in os.walk(path) for f in fs
                if f.endswith(".parquet")]

    assert len(parquet_files()) == 40
    assert S.compact_table(spark, path, target_bytes=1 << 20) is True
    assert len(parquet_files()) == 1          # 40 tiny files → 1
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == list(range(1000))           # rows byte-identical
    # second run is a no-op: already compact
    assert S.compact_table(spark, path, target_bytes=1 << 20) is False


def test_compact_table_preserves_partition_layout(spark, tmp_path):
    """Compacting a partitioned table must keep the key=value layout
    AND the literal directory names — numeric-looking string values
    like day='01' must not round-trip through partition-type inference
    to day=1, or subsequent partitioned upserts install duplicates
    beside the renamed directory."""
    import os

    path = str(tmp_path / "ptbl")
    df = spark.createDataFrame(
        [(i, f"0{i % 3}", i) for i in range(300)],
        "id long, day string, ver long")
    df.repartition(30).write.partitionBy("day").parquet(path)
    assert S.compact_table(spark, path, target_bytes=1 << 20) is True
    subdirs = {d for d in os.listdir(path) if d.startswith("day=")}
    assert subdirs == {"day=00", "day=01", "day=02"}  # names intact
    got = spark.read.parquet(path)
    assert got.count() == 300
    assert sorted(got.columns) == ["day", "id", "ver"]
    # a REAL partitioned upsert on the compacted table: replace id=0
    # in day=00 and confirm replace semantics (no duplicate rows)
    inc = spark.createDataFrame([(0, "00", 999)],
                                "id long, day string, ver long")
    S.write_upsert(spark, inc, path, ["id"], "ver", "day")
    after = spark.read.parquet(path)
    assert after.count() == 300
    assert after.filter("id = 0").count() == 1
    assert after.filter("id = 0").collect()[0]["ver"] == 999


def test_lock_not_broken_on_eperm(tmp_path, monkeypatch):
    """EPERM from kill(pid, 0) means the holder EXISTS under another
    uid — the lock must be respected, not broken."""
    import json as _json
    import os

    path = str(tmp_path / "tbl")
    lock = f"{path}.__lock"
    with open(lock, "w") as f:
        _json.dump({"pid": 12345, "ts": 0}, f)

    def fake_kill(pid, sig):
        raise PermissionError("operation not permitted")

    monkeypatch.setattr(os, "kill", fake_kill)
    with pytest.raises(S.ConcurrentWriteError):
        with S.table_lock(path, timeout=0.5, poll=0.05):
            pass
    assert os.path.exists(lock)


def test_swap_partitions_restores_on_failed_rename(spark, tmp_path, monkeypatch):
    """A rename failure mid-swap must restore the displaced live
    partition and leave tmp on disk — never delete the only fresh
    copy."""
    import os

    path = str(tmp_path / "ptbl")
    spark.createDataFrame([(1, "d0"), (2, "d1")], "id long, day string") \
        .write.partitionBy("day").parquet(path)
    tmp = str(tmp_path / "fresh")
    spark.createDataFrame([(10, "d0")], "id long, day string") \
        .write.partitionBy("day").parquet(tmp)

    real_rename = os.rename

    def failing_rename(src, dst):
        if src.endswith("day=d0") and dst.endswith("day=d0") \
                and "fresh" in src:
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError):
        S.swap_partitions(tmp, path, "day")
    monkeypatch.undo()
    # live table intact (original rows), fresh data still on disk
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == [1, 2]
    assert os.path.exists(os.path.join(tmp, "day=d0"))


def test_compact_table_escaped_partition_values(spark, tmp_path):
    """Partition values Spark URI-escapes on disk (':' → %3A) must
    still match the per-partition bucket map — and the rewrite must
    preserve the escaped directory names."""
    import os

    path = str(tmp_path / "etbl")
    df = spark.createDataFrame(
        [(i, f"h:{i % 2}") for i in range(200)], "id long, ts string")
    df.repartition(20).write.partitionBy("ts").parquet(path)
    dirs_before = {d for d in os.listdir(path) if d.startswith("ts=")}
    assert dirs_before == {"ts=h%3A0", "ts=h%3A1"}  # escaped on disk
    assert S.compact_table(spark, path, target_bytes=1 << 20) is True
    dirs_after = {d for d in os.listdir(path) if d.startswith("ts=")}
    assert dirs_after == dirs_before
    got = spark.read.parquet(path)
    assert got.count() == 200
    assert {r["ts"] for r in got.select("ts").distinct().collect()} \
        == {"h:0", "h:1"}
