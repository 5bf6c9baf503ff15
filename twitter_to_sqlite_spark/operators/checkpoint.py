"""Incremental / checkpoint operators (SURVEY §2.8).

The reference keeps a ``since_ids(type, key, since_id)`` high-water
mark table (utils.py:371-387, 214-222) and an applied-``migrations``
log (utils.py:43-66). Here both are tiny keyed parquet tables managed
with the same upsert plan as the data tables. In streaming mode,
Structured Streaming's own checkpoint dir supersedes since_ids.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from twitter_to_sqlite_spark.operators.sinks import table_lock, write_swap
from twitter_to_sqlite_spark.session import local_frame

# Reference endpoint-type registry, utils.py:19-24.
SINCE_ID_TYPES = {"user": 1, "home": 2, "mentions": 3, "search": 4}

SINCE_IDS_SCHEMA = T.StructType([
    T.StructField("type", T.IntegerType(), False),
    T.StructField("key", T.StringType(), False),
    T.StructField("since_id", T.LongType(), False),
])

MIGRATIONS_SCHEMA = T.StructType([
    T.StructField("name", T.StringType(), False),
    T.StructField("applied", T.StringType(), False),
])


class WatermarkStore:
    """since_ids checkpoint table (C1/C2).

    Monotonic: set() keeps max(old, new) per (type, key), matching the
    reference's running-max fold (utils.py:209-222). set() reads,
    merges and swaps under the table's ``table_lock`` — the same lock
    every upsert takes — so two writers on one database (two syncs, or
    a sync plus a capture) cannot drop each other's rows.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame:
        if os.path.exists(self.path):
            return self.spark.read.schema(SINCE_IDS_SCHEMA).parquet(self.path)
        return local_frame(self.spark, [], SINCE_IDS_SCHEMA)

    def get(self, type_name: str, key: str) -> int | None:
        t = SINCE_ID_TYPES[type_name]
        rows = (
            self._read()
            .filter((F.col("type") == t) & (F.col("key") == key))
            .select("since_id")
            .collect()
        )
        return rows[0][0] if rows else None

    def set(self, type_name: str, key: str, since_id: int) -> None:
        t = SINCE_ID_TYPES[type_name]
        incoming = local_frame(
            self.spark, [(t, key, int(since_id))], SINCE_IDS_SCHEMA
        )
        with table_lock(self.path):
            merged = (
                self._read()
                .unionByName(incoming)
                .groupBy("type", "key")
                .agg(F.max("since_id").alias("since_id"))
                .select(*[F.col(f.name).cast(f.dataType) for f in SINCE_IDS_SCHEMA])
            )
            write_swap(merged.coalesce(1), self.path)

    def advance_from(self, df: DataFrame, type_name: str, key: str,
                     id_col: str = "id") -> int | None:
        """Advance the watermark to max(id) seen in a batch (A1)."""
        row = df.agg(F.max(id_col).alias("m")).collect()[0]
        if row["m"] is not None:
            self.set(type_name, key, row["m"])
        return row["m"]


class MigrationRunner:
    """Ordered, applied-once migration scripts (C3, migrations.py:1-28).

    Each migration is (name, fn(spark) -> None); applied names are
    recorded so re-runs are no-ops — the reference's ``migrations``
    table semantics (utils.py:43-66). run() holds the log's
    ``table_lock`` from reading the applied set to swapping in the new
    one, so concurrent runners neither lose each other's records nor
    apply a migration twice.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def applied(self) -> set[str]:
        if os.path.exists(self.path):
            return {
                r["name"]
                for r in self.spark.read.schema(MIGRATIONS_SCHEMA).parquet(self.path).collect()
            }
        return set()

    def run(self, migrations: list[tuple]) -> list[str]:
        with table_lock(self.path):
            done = self.applied()
            ran: list[str] = []
            for name, fn in migrations:
                if name in done:
                    continue
                fn(self.spark)
                ran.append(name)
            if ran:
                now = F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss")
                new = local_frame(
                    self.spark, [(n,) for n in sorted(done | set(ran))], "name string"
                ).withColumn("applied", now)
                write_swap(new.coalesce(1), self.path)
        return ran
