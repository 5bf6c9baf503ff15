"""TweetDatabase: the engine's table store — a directory of parquet
tables with the reference's write semantics (K1 replace-upsert, K2
ignore-insert, K3 overwrite) plus the count-history and watermark
bookkeeping. The SQLite file becomes a lake path; every write is a
deterministic DataFrame plan from operators/sinks.py.

Scale: each logical table is one parquet dataset; fact tables accept a
`partition_by` (date) so MERGE rewrites only touched partitions. Dims
stay unpartitioned and broadcast-sized.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from twitter_to_sqlite_spark.operators import checkpoint as CP
from twitter_to_sqlite_spark.operators import sinks

# count_history tracked types (reference utils.py:25-33 — favourites/
# statuses deliberately untracked as too noisy).
COUNT_HISTORY_TYPES = {"followers": 1, "friends": 2, "listed": 3}

# count_history as record_user_counts writes it; read back with this
# schema instead of a schema-inference job over the table.
COUNT_HISTORY_SCHEMA = T.StructType([
    T.StructField("type", T.IntegerType()),
    T.StructField("user", T.LongType()),
    T.StructField("datetime", T.StringType()),
    T.StructField("count", T.LongType()),
])


class TweetDatabase:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.watermarks = CP.WatermarkStore(spark, f"{root}/since_ids")

    # ------------------------------------------------------------ io
    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        return os.path.exists(self.path(name))

    def read(self, name: str) -> DataFrame | None:
        return (sinks.read_table(self.spark, self.path(name))
                if self.exists(name) else None)

    def table_names(self) -> list[str]:
        """Live tables: not the hidden or ``.__tmp-`` staging siblings a
        commit leaves behind while it runs or after it fails."""
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
            and not d.startswith(".") and ".__" not in d
        )

    # --------------------------------------------------------- writes
    def upsert(self, name: str, df: DataFrame, keys: list[str],
               batch_id: int | None = None) -> None:
        """K1 INSERT OR REPLACE by pk."""
        self._upsert(name, df, keys, batch_id, None)

    def upsert_partitioned(self, name: str, df: DataFrame, keys: list[str],
                           partition_col: str,
                           batch_id: int | None = None) -> None:
        """K1 upsert with partition pruning: only partitions present in
        the batch are read and rewritten — MERGE cost proportional to
        the batch, not the table."""
        self._upsert(name, df, keys, batch_id, partition_col)

    def _upsert(self, name, df, keys, batch_id, partition_col) -> None:
        # Shared body: neither public upsert calls the other, so a
        # wrapper around one of them never nests inside the other.
        version = batch_id if batch_id is not None else time.time_ns()
        sinks.write_upsert(
            self.spark, df.withColumn("__batch", F.lit(version).cast("long")),
            self.path(name), keys, "__batch", partition_col)

    def insert_if_absent(self, name: str, df: DataFrame, keys: list[str]) -> None:
        """K2 INSERT OR IGNORE by pk."""
        sinks.rewrite(self.spark, self.path(name), lambda existing: (
            df.dropDuplicates(keys) if existing is None
            else sinks.insert_if_absent_plan(existing, df, keys)))

    def overwrite(self, name: str, df: DataFrame) -> None:
        """K3 drop & recreate."""
        sinks.write_swap(df, self.path(name))

    def append(self, name: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path(name))

    # ------------------------------------------------- count history
    def record_user_counts(self, users: DataFrame,
                           now_iso: str | None = None) -> int:
        """A2/A3 (save_user_counts, utils.py:676-701): append one
        count_history row per (type, user) whose current count differs
        from the most recent stored observation.

        Incremental-correct: compares against the STORED latest (not a
        batch-local lag) — SURVEY §7.3 hard-part 4. The changed rows are
        evaluated once: persisted, counted, appended from the cache.
        The history is appended to, not rewritten: a rewrite would make
        every sync's write grow with the history.
        """
        now = now_iso or time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime())
        melted = None
        for tname, tid in COUNT_HISTORY_TYPES.items():
            piece = users.select(
                F.lit(tid).alias("type"),
                F.col("id").alias("user"),
                F.lit(now).alias("datetime"),
                F.col(f"{tname}_count").cast("long").alias("count"),
            )
            melted = piece if melted is None else melted.unionByName(piece)
        melted = melted.filter(F.col("count").isNotNull())

        # The lock spans the read of the stored latest and the append:
        # two unlocked recorders would both append the same change, and
        # their appends share one _temporary directory.
        with sinks.table_lock(self.path("count_history")):
            if self.exists("count_history"):
                latest = (
                    self.spark.read.schema(COUNT_HISTORY_SCHEMA)
                    .parquet(self.path("count_history"))
                    .groupBy("type", "user")
                    .agg(F.max_by("count", "datetime").alias("__prev"))
                )
                melted = (
                    melted.join(latest, ["type", "user"], "left")
                    .filter(F.col("__prev").isNull()
                            | (F.col("count") != F.col("__prev")))
                    .drop("__prev")
                )
            melted = melted.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                changed = melted.count()
                if changed:
                    self.append("count_history", melted)
            finally:
                melted.unpersist()
        return changed

    # ------------------------------------------------------ text search
    def build_fts(self, table: str, id_col: str, text_cols: list[str]) -> str:
        """T1/T2 (FTS5 shadow tables, utils.py:330-332,352): materialize
        an inverted-index table `<table>_fts` over the given columns.

        Scale: the index is a derived table — rebuildable, partitionable
        by term — that turns text search into an equi-join instead of a
        full scan. Incremental maintenance = rebuild of touched
        partitions (FTS5's triggers ≈ recompute-on-write here).
        """
        from twitter_to_sqlite_spark.operators.relational import build_inverted_index

        src = self.read(table)
        if src is None:
            raise FileNotFoundError(table)
        concat = F.concat_ws(" ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols])
        base = src.select(F.col(id_col).alias("id"), concat.alias("__text"))
        idx = build_inverted_index(base, "id", "__text")
        name = f"{table}_fts"
        self.overwrite(name, idx)
        return name

    def search_fts(self, table: str, terms: list[str], mode: str = "all") -> DataFrame:
        """FTS query through the index: ids of rows matching the terms
        (AND by default, like FTS5), joined back to the base table."""
        from twitter_to_sqlite_spark.operators.relational import fts_search

        idx = self.read(f"{table}_fts")
        if idx is None:
            raise FileNotFoundError(f"{table}_fts — run build_fts first")
        ids = fts_search(idx, "id", terms, mode=mode)
        return self.read(table).join(ids, "id", "left_semi")
