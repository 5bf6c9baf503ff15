"""Schema migrations (SURVEY §2.8 C3/C4).

The reference ships one migration, convert_source_column
(migrations.py:11-28): tweets written by old versions hold raw
`<a href=...>` HTML in `tweets.source`; the migration extracts those
into the `sources` dimension and rewrites the fact column to the
content-hash key, then future writes use the dimension directly.

Spark shape: a one-off backfill job — filter the unmigrated rows
(F5: source LIKE '<%'), run the same extract_sources transform the
ingest path uses, upsert the dimension, overwrite the fact table.
Applied-once bookkeeping via operators.checkpoint.MigrationRunner.

Scale: the F5 predicate pushes into the parquet scan, so a fully
migrated 100 TB table re-checks only footers/stats; the rewrite is
proportional to matching rows (with partitioned facts, only touched
partitions rewrite).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_to_sqlite_spark.database import TweetDatabase
from twitter_to_sqlite_spark.operators import sinks
from twitter_to_sqlite_spark.operators.checkpoint import MigrationRunner
from twitter_to_sqlite_spark.transforms.tweets import extract_sources


def convert_source_column(db: TweetDatabase) -> int:
    """C4: backfill raw-HTML source values to sources-dim hash keys.
    Returns the number of rows rewritten."""
    tweets = db.read("tweets")
    if tweets is None or "source" not in tweets.columns:
        return 0
    unmigrated = tweets.filter(F.col("source").startswith("<"))  # F5
    n = unmigrated.count()
    if n == 0:
        return 0
    db.upsert("sources", extract_sources(unmigrated)[0], ["id"])

    def migrate(live):
        raw = F.col("source").startswith("<")
        fixed = extract_sources(live.filter(raw))[1]
        return live.filter(~raw | F.col("source").isNull()).unionByName(fixed)

    sinks.rewrite(db.spark, db.path("tweets"), migrate)
    return n


def partition_tweets_by_day(db: TweetDatabase) -> int:
    """Upgrade a legacy flat tweets table to the day-partitioned layout
    (partition column derived from the ISO created_at). Returns rows
    rewritten; no-op when already partitioned or missing."""
    tweets = db.read("tweets")
    if tweets is None or "day" in tweets.columns:
        return 0
    n = tweets.count()
    if n:
        sinks.rewrite(db.spark, db.path("tweets"), lambda live: live.withColumn(
            "day",
            F.coalesce(F.substring("created_at", 1, 10), F.lit("unknown"))
            if "created_at" in live.columns else F.lit("unknown"),
        ), partition_by=["day"])
    return n


def run_migrations(db: TweetDatabase) -> list[str]:
    """C3: apply pending migrations exactly once per database
    (reference open_database, utils.py:43-66 — runs only against
    existing databases; a fresh db records them as applied)."""
    runner = MigrationRunner(db.spark, db.path("migrations"))
    bound = [
        ("convert_source_column", lambda spark: convert_source_column(db)),
        ("partition_tweets_by_day", lambda spark: partition_tweets_by_day(db)),
    ]
    return runner.run(bound)
