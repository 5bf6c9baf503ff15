"""Incremental / checkpoint operators (SURVEY §2.8).

The reference keeps a ``since_ids(type, key, since_id)`` high-water
mark table (utils.py:371-387, 214-222) and an applied-``migrations``
log (utils.py:43-66). Here both are tiny parquet tables read and
written on the driver with pyarrow — a few rows need no Spark job —
under the same ``table_lock`` as every table writer, committed by the
same directory swap (``sinks.swap_in``). Their footers carry Spark's
row schema, so Spark readers see the columns and types a Spark writer
would have left. In streaming mode, Structured Streaming's own
checkpoint dir supersedes since_ids.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from twitter_to_sqlite_spark.operators.sinks import (
    SPARK_SCHEMA_KEY, swap_in, table_lock)

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


def _read_rows(path: str, schema: T.StructType) -> list[dict]:
    """All rows of a small parquet table, read on the driver."""
    if not os.path.exists(path):
        return []
    return pq.read_table(path, schema=to_arrow_schema(schema)).to_pylist()


def _write_rows(path: str, schema: T.StructType, rows: list[dict]) -> None:
    """Replace the table at ``path`` with ``rows``: one parquet file
    written on the driver, committed by ``swap_in``. The caller holds
    the table's ``table_lock``."""
    arrow = to_arrow_schema(schema).with_metadata(
        {SPARK_SCHEMA_KEY: schema.json()})
    table = pa.Table.from_pylist(rows, schema=arrow)

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.snappy.parquet"))

    swap_in(path, write)


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

    def _marks(self) -> dict[tuple[int, str], int]:
        return {(r["type"], r["key"]): r["since_id"]
                for r in _read_rows(self.path, SINCE_IDS_SCHEMA)}

    def get(self, type_name: str, key: str) -> int | None:
        return self._marks().get((SINCE_ID_TYPES[type_name], key))

    def set(self, type_name: str, key: str, since_id: int) -> None:
        k, v = (SINCE_ID_TYPES[type_name], key), int(since_id)
        with table_lock(self.path):
            marks = self._marks()
            marks[k] = max(marks.get(k, v), v)
            _write_rows(self.path, SINCE_IDS_SCHEMA, [
                {"type": t, "key": s, "since_id": m}
                for (t, s), m in sorted(marks.items())])

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

    def _log(self) -> dict[str, str]:
        return {r["name"]: r["applied"]
                for r in _read_rows(self.path, MIGRATIONS_SCHEMA)}

    def applied(self) -> set[str]:
        return set(self._log())

    def run(self, migrations: list[tuple]) -> list[str]:
        with table_lock(self.path):
            log = self._log()
            ran: list[str] = []
            for name, fn in migrations:
                if name in log:
                    continue
                fn(self.spark)
                ran.append(name)
            if ran:
                now = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime())
                log.update(dict.fromkeys(ran, now))
                _write_rows(self.path, MIGRATIONS_SCHEMA, [
                    {"name": n, "applied": t} for n, t in sorted(log.items())])
        return ran
