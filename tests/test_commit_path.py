"""One commit path: every table rewrite commits under its table's lock,
count_history appends serialize, and staging siblings left by a commit
are never listed as tables."""

from __future__ import annotations

import os
import threading

import pytest

from twitter_to_sqlite_spark import migrations as M
from twitter_to_sqlite_spark.database import TweetDatabase
from twitter_to_sqlite_spark.operators import sinks as S


@pytest.fixture()
def db(spark, tmp_path):
    return TweetDatabase(spark, str(tmp_path / "db"))


@pytest.fixture()
def commits(monkeypatch):
    """Spy on renames out of a ``.__tmp-`` staging directory: one
    (table, lock held) pair per commit rename."""
    seen: list[tuple[str, bool]] = []
    real_rename = os.rename

    def spy(src, dst):
        src = os.fspath(src)
        if ".__tmp-" in src:
            table = src.split(".__tmp-")[0]
            seen.append((table, os.path.exists(f"{table}.__lock")))
        return real_rename(src, dst)

    monkeypatch.setattr(S.os, "rename", spy)
    return seen


def _assert_locked(commits, table):
    mine = [held for t, held in commits if t == table]
    assert mine, f"no commit rename into {table}"
    assert all(mine), f"{table} committed without its table lock"
    commits.clear()


def test_every_commit_holds_the_table_lock(spark, db, commits):
    rows = spark.createDataFrame(
        [(1, "a", "2020-01-01"), (2, "b", "2020-01-02")],
        "id long, v string, day string")

    db.upsert("users", rows.drop("day"), ["id"])  # K1, first write
    _assert_locked(commits, db.path("users"))
    db.upsert("users", rows.drop("day"), ["id"])  # K1 over a live table
    _assert_locked(commits, db.path("users"))
    db.upsert_partitioned("facts", rows, ["id"], "day")
    _assert_locked(commits, db.path("facts"))
    db.upsert_partitioned("facts", rows, ["id"], "day")
    _assert_locked(commits, db.path("facts"))
    db.insert_if_absent("following", rows.drop("day"), ["id"])  # K2
    _assert_locked(commits, db.path("following"))
    db.insert_if_absent("following", rows.drop("day"), ["id"])
    _assert_locked(commits, db.path("following"))
    db.overwrite("archive_x", rows)  # K3
    _assert_locked(commits, db.path("archive_x"))

    db.overwrite("tweets", spark.createDataFrame(
        [(i, "2020-02-03T10:20:30+00:00") for i in range(4)],
        "id long, created_at string").repartition(4))
    commits.clear()
    assert S.compact_table(spark, db.path("tweets"), target_bytes=1 << 20)
    _assert_locked(commits, db.path("tweets"))
    assert M.partition_tweets_by_day(db) == 4
    _assert_locked(commits, db.path("tweets"))

    from twitter_to_sqlite_spark.streaming.analytics import drift_monitor

    counts = db.path("drift_counts")
    on_batch = drift_monitor(spark, counts, "quality")
    on_batch(spark.createDataFrame([(0.1,), (0.9,)], "quality double"), 0)
    _assert_locked(commits, counts)
    on_batch(spark.createDataFrame([(0.5,)], "quality double"), 1)
    _assert_locked(commits, counts)
    got = {r["bin"]: r["n"] for r in spark.read.parquet(counts).collect()}
    assert got == {1: 1, 5: 1, 9: 1}


def test_concurrent_count_history_recorders_serialize(spark, db):
    """Two recorders of the same users at once: without the lock both
    read the history before either appends, so the rows land twice (or
    one append fails on the _temporary directory both share); with it,
    the second sees the first's rows and appends nothing."""
    users = spark.createDataFrame(
        [(i, 10 * i, 20 * i, 30 * i) for i in range(1, 51)],
        "id long, followers_count long, friends_count long, "
        "listed_count long")
    errs = []

    def record():
        try:
            db.record_user_counts(users, now_iso="2024-01-01T00:00:00+00:00")
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    ts = [threading.Thread(target=record) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in ts)
    assert not errs, errs
    assert db.read("count_history").count() == 150
    assert not os.path.exists(db.path("count_history") + ".__lock")


def test_table_names_skip_commit_leftovers(spark, db):
    """A staging dir a failed swap keeps for recovery, and a displaced
    copy mid-swap, are not tables: the CLI's --sql path registers a
    view per table name, and such names are invalid view names."""
    from twitter_to_sqlite_spark.sources.api import resolve_identifiers_sql

    db.overwrite("tweets", spark.createDataFrame([(7,)], "id long"))
    spark.range(1).write.parquet(db.path("tweets") + ".__tmp-0badc0de")
    spark.range(1).write.parquet(os.path.join(db.root, ".tweets.__old-0badc0de"))
    assert db.table_names() == ["tweets"]
    views = {n: db.read(n) for n in db.table_names()}
    assert resolve_identifiers_sql(spark, [], "select id from tweets",
                                   views) == [7]
