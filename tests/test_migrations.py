"""Migration tests (reference test_migrations.py shape: golden
before/after for convert_source_column; applied-once semantics)."""

from __future__ import annotations

import hashlib
import json

import pytest

from twitter_to_sqlite_spark import migrations as M
from twitter_to_sqlite_spark.database import TweetDatabase


@pytest.fixture()
def db(spark, tmp_path):
    return TweetDatabase(spark, str(tmp_path / "db"))


def _expected_hash(name, url):
    return hashlib.sha1(
        json.dumps({"name": name, "url": url}, separators=(",", ":")).encode()
    ).hexdigest()


def test_convert_source_column(spark, db):
    pre = _expected_hash("Already Done", "https://done.example.com")
    tweets = spark.createDataFrame(
        [
            (1, '<a href="https://old.example.com" rel="nofollow">Old Client</a>'),
            (2, '<a href="https://old.example.com" rel="nofollow">Old Client</a>'),
            (3, pre),  # already migrated: untouched
        ],
        "id long, source string",
    )
    db.overwrite("tweets", tweets)
    assert M.convert_source_column(db) == 2

    out = {r["id"]: r["source"] for r in db.read("tweets").collect()}
    expected = _expected_hash("Old Client", "https://old.example.com")
    assert out == {1: expected, 2: expected, 3: pre}
    sources = {r["id"]: (r["name"], r["url"]) for r in db.read("sources").collect()}
    assert sources == {expected: ("Old Client", "https://old.example.com")}
    # idempotent: second run rewrites nothing (F5 predicate empty)
    assert M.convert_source_column(db) == 0


def test_run_migrations_applied_once(spark, db):
    tweets = spark.createDataFrame(
        [(1, '<a href="https://x.example.com">X</a>')], "id long, source string"
    )
    db.overwrite("tweets", tweets)
    assert M.run_migrations(db) == ["convert_source_column", "partition_tweets_by_day"]
    assert M.run_migrations(db) == []
    row = db.read("tweets").collect()[0]
    assert not row["source"].startswith("<")
    assert row["day"] == "unknown"  # no created_at column in this fixture


def test_partition_tweets_by_day_migration(spark, db):
    tweets = spark.createDataFrame(
        [(1, "2020-02-03T10:20:30+00:00", "x"), (2, None, "y")],
        "id long, created_at string, full_text string",
    )
    db.overwrite("tweets", tweets)
    assert M.partition_tweets_by_day(db) == 2
    out = {r["id"]: str(r["day"]) for r in db.read("tweets").collect()}
    assert out == {1: "2020-02-03", 2: "unknown"}
    # idempotent
    assert M.partition_tweets_by_day(db) == 0
    # partitioned layout on disk
    import os
    assert any(d.startswith("day=") for d in os.listdir(db.path("tweets")))


def test_legacy_flat_table_upsert_fallback(spark, db):
    """A pre-partitioning tweets table must still accept partitioned
    upserts (plain-merge fallback, no crash)."""
    from twitter_to_sqlite_spark.operators import sinks as S
    from pyspark.sql import functions as F

    legacy = spark.createDataFrame(
        [(1, "old")], "id long, full_text string"
    )
    db.overwrite("tweets", legacy)
    incoming = spark.createDataFrame(
        [(1, "new", "2020-02-03"), (2, "two", "2020-02-03")],
        "id long, full_text string, day string",
    ).withColumn("__batch", F.lit(1).cast("long"))
    S.write_upsert(
        spark, incoming, db.path("tweets"), ["id"], "__batch", "day"
    )
    out = {r["id"]: r["full_text"] for r in db.read("tweets").collect()}
    assert out == {1: "new", 2: "two"}
