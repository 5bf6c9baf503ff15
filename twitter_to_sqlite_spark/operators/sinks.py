"""Sink operators (SURVEY §2.2): the write-side semantics of the
reference expressed as DataFrame plans + parquet writers.

The reference's storage semantics are SQLite INSERT OR REPLACE /
INSERT OR IGNORE keyed by pk. On a parquet lake they become a
deterministic union + window dedup; the plan builders (``*_plan``) are
pure and oracle-testable, the ``write_*`` helpers do the I/O.

Scale notes: last-write-wins is a single window shuffle partitioned by
pk — the same shape a lakehouse MERGE uses internally. For a 100 TB
fact table, partition the table by a time column and MERGE only the
touched partitions (``write_upsert`` with ``partition_col``).

Every table rewrite — K1 upserts, K2 inserts, K3 overwrites,
compaction, migrations, the streaming monitors — commits through one
locked read-merge-commit, :func:`rewrite` (or :func:`write_swap` when
the new table does not depend on the old), ending in one
rename-with-rollback, :func:`_replace_dir`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Footer key under which Spark's parquet writer stores each file's row
#: schema as JSON (partition columns excluded).
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def upsert_plan(existing: DataFrame, incoming: DataFrame, keys: list[str],
                version_col: str) -> DataFrame:
    """Keyed last-write-wins upsert (INSERT OR REPLACE).

    Reference: ``insert_all(..., pk=..., replace=True)`` on tweets
    (utils.py:434), users (utils.py:432,454), places (utils.py:420).

    `version_col` orders writes: the row with the highest version per
    key wins, and incoming beats existing on ties (the reference's
    "later write wins" — SURVEY §7.3 hard-part 3). Deterministic even
    when one batch contains the same pk twice.
    """
    e = existing.withColumn("__src", F.lit(0))
    i = incoming.withColumn("__src", F.lit(1))
    unioned = e.unionByName(i, allowMissingColumns=True)
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(), F.col("__src").desc()
    )
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def insert_if_absent_plan(existing: DataFrame, incoming: DataFrame,
                          keys: list[str]) -> DataFrame:
    """First-write-wins insert (INSERT OR IGNORE).

    Reference: ``insert_all(..., ignore=True)`` for `following`, so the
    original ``first_seen`` is preserved (utils.py:459-469,
    cli.py:727-733).
    Plan: existing ∪ (incoming ⟕anti existing). The anti-join
    broadcasts whichever side is small; dedup incoming on pk first so a
    batch with repeated keys inserts one row.
    """
    fresh = (
        incoming.dropDuplicates(keys)
        .join(existing.select(*keys), on=keys, how="left_anti")
    )
    return existing.unionByName(fresh, allowMissingColumns=True)


def hash_id_plan(df: DataFrame, cols: list[str] | None = None,
                 id_col: str = "id") -> DataFrame:
    """Content-hash surrogate key + collapse of identical rows.

    Reference: ``hash_id="id"`` for the sources dimension
    (utils.py:668-673) and pk-less archive tables (archive.py:248) —
    pk = hash of row content, so identical rows dedup to one.

    Uses sha1 over ``to_json`` of the selected columns in sorted field
    order — the same *construction* as the reference's canonical-JSON
    sha1 (utils.py's hash_record via archive.py:248), but NOT
    byte-identical to it: ``to_json`` drops null fields, doesn't
    \\uXXXX-escape non-ASCII, and doesn't sort nested keys, so archive
    pk values differ from a reference-built DB. The hash is stable and
    collision-safe for dedup, which is all K4 requires; where byte
    parity with sqlite_utils matters (the sources dim), the exact-hash
    pandas UDF in transforms/tweets.py is used instead. Scale:
    dropDuplicates on the hash is a partial-agg shuffle on a
    high-entropy key — no skew by construction.
    """
    cols = cols or df.columns
    ordered = sorted(cols)
    h = F.sha1(F.to_json(F.struct(*[F.col(c) for c in ordered])))
    return df.withColumn(id_col, h).dropDuplicates([id_col])


def m2m_bridge_plan(df: DataFrame, left_id: str, right_id: str,
                    left_name: str, right_name: str) -> DataFrame:
    """Build the m2m bridge rows (tweet↔media style).

    Reference: ``table.m2m("media", ...)`` creating media_tweets
    (utils.py:442-446).
    """
    return (
        df.select(
            F.col(left_id).alias(f"{left_name}_id"),
            F.col(right_id).alias(f"{right_name}_id"),
        )
        .dropDuplicates()
    )


# --------------------------------------------------------------- I/O

# A healthy writer fills its lock file microseconds after creating it;
# an unparseable lock OLDER than this is a crash artifact, not a
# writer mid-create.
_LOCK_GRACE = 5.0

# A lock whose pid CAN'T be probed (foreign tooling, corrupt content)
# may belong to a holder alive mid-merge — only break it after a TTL
# sized to the longest plausible held merge, not the create grace.
_LOCK_STALE_TTL = 600.0


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table lock; the upsert was NOT applied.

    Raised instead of corrupting the table: the parquet swap writers
    are single-writer by construction (two interleaved rename swaps can
    drop each other's rows), so concurrent upserts must serialize on
    the lock or fail cleanly with this error.
    """


@contextmanager
def table_lock(path: str, timeout: float = 120.0, poll: float = 0.05):
    """Advisory exclusive lock for read-merge-swap writers.

    ``O_CREAT|O_EXCL`` on ``<path>.__lock`` is atomic on POSIX and NFS;
    the lock file records the holder's pid so a lock left by a dead
    process (crash between write and unlink) is detected and broken —
    liveness without a daemon. On repeated contention the writer polls
    until ``timeout`` then raises :class:`ConcurrentWriteError` rather
    than proceeding unlocked.

    Two races the break path must NOT lose to:
      * a contender can read the lock in the instant between the
        holder's O_EXCL create and its json write — an EMPTY file.
        Unparseable content is therefore stale only after
        ``_LOCK_GRACE`` seconds (a healthy writer fills it in
        microseconds), never immediately;
      * two contenders may both deem the lock stale — breaking is an
        atomic ``rename`` claim, so exactly one of them removes it and
        the loser goes back to polling instead of unlinking a fresh
        lock that a third writer just created.

    Scope: the lock must cover the READ of the existing table as well
    as the swap — locking only the swap still loses updates (two
    writers both read the pre-merge table).
    """
    lock = f"{path}.__lock"
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump({"pid": os.getpid(), "ts": time.time()}, f)
            break
        except FileExistsError:
            holder, stale = None, False
            try:
                with open(lock) as f:
                    holder = json.load(f).get("pid")
            except FileNotFoundError:
                continue  # released between create-attempt and read
            except (OSError, ValueError, json.JSONDecodeError):
                # Unreadable content: mid-create (fresh) or a crash
                # between create and write (old). Age decides.
                try:
                    stale = time.time() - os.stat(lock).st_mtime > _LOCK_GRACE
                except OSError:
                    continue
            if holder is not None:
                try:
                    os.kill(int(holder), 0)
                except ProcessLookupError:
                    stale = True  # holder gone (same-host check; a
                    # shared filesystem would use a TTL policy here)
                except PermissionError:
                    pass  # EPERM: the process EXISTS under another
                    # uid — very much alive; keep polling
                except (OSError, ValueError):
                    # Undeterminable (garbage pid content, exotic
                    # errno). OUR writers always record int(getpid()),
                    # so this is a foreign/corrupt lock — break it
                    # after the HELD-lock TTL (not the microseconds-
                    # scale create grace: the foreign holder could be
                    # alive mid-merge) instead of wedging every writer
                    # until a human deletes it.
                    try:
                        stale = (time.time() - os.stat(lock).st_mtime
                                 > _LOCK_STALE_TTL)
                    except OSError:
                        continue
            if stale:
                claim = f"{lock}.stale.{os.getpid()}.{time.monotonic_ns()}"
                try:
                    os.rename(lock, claim)  # atomic: one breaker wins
                    os.unlink(claim)
                except OSError:
                    pass  # lost the claim race — someone else broke it
                continue
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"timed out after {timeout}s waiting for {lock} "
                    f"(held by pid {holder}); table left untouched"
                ) from None
            time.sleep(poll)
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except OSError:
            pass


def _hidden(name: str) -> bool:
    """Names Spark's file index skips when it lists a table."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _first_data_file(path: str) -> str | None:
    """The file whose footer Spark's default schema inference reads
    (``mergeSchema`` off, no summary files, which Spark does not write
    by default): the first data file in path order."""
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        found += [os.path.join(root, f) for f in files if not _hidden(f)]
    return min(found, default=None)


def read_table(spark, path: str, string_partitions: bool = False) -> DataFrame:
    """Read the parquet table at ``path`` with its schema declared,
    taken on the driver from one file's footer. ``spark.read.parquet``
    infers the same schema from the same footer, but as a Spark job; a
    table whose footer lacks the key was not written by Spark and pays
    that one inference read.

    Partition columns are left to Spark's discovery, which types them as
    an inferring read would. The write paths pass ``string_partitions``:
    partition columns are then declared strings, so directory names
    round-trip verbatim. Inference would turn ``day=00`` into int 0,
    which casts back to "0"; an IN-filter on '00' then matches nothing
    and the partition swap replaces a full directory with only the
    incoming rows.
    """
    f = _first_data_file(path)
    meta = pq.read_schema(f).metadata if f else None
    raw = (meta or {}).get(SPARK_SCHEMA_KEY.encode())
    parts = _partition_cols(path)
    if raw is not None:
        schema = T.StructType.fromJson(json.loads(raw))
    else:
        schema = T.StructType([c for c in spark.read.parquet(path).schema
                               if c.name not in parts])
    if string_partitions:
        for c in parts:
            schema = schema.add(c, T.StringType())
    return spark.read.schema(schema).parquet(path)


def _replace_dir(src: str, dst: str) -> None:
    """Rename ``src`` over ``dst``, the rename-with-rollback every
    commit ends in. A live ``dst`` first moves to a hidden sibling that
    no reader lists; a crash between the two renames leaves it there,
    recoverable, never half-written. It is deleted only once ``src`` is
    in place; if that rename fails, ``dst`` is restored and ``src`` kept
    for recovery, so no path deletes the only copy. Directory renames
    are atomic on POSIX and HDFS; object stores would substitute a
    Delta/Iceberg commit.
    """
    parent, name = os.path.split(dst)
    old = os.path.join(parent, f".{name}.__old-{uuid.uuid4().hex[:8]}")
    displaced = os.path.exists(dst)
    if displaced:
        os.rename(dst, old)
    try:
        os.rename(src, dst)
    except BaseException:
        if displaced and not os.path.exists(dst):
            os.rename(old, dst)
        raise
    if displaced:
        shutil.rmtree(old, ignore_errors=True)


def swap_in(path: str, write: Callable[[str], None]) -> None:
    """Commit a whole new table at ``path``: ``write(tmp)`` fills a
    ``.__tmp-`` staging sibling, swapped in by :func:`_replace_dir`.
    Spark plans and the driver-side checkpoint tables commit through
    here. The caller holds the table's :func:`table_lock`."""
    tmp = f"{path}.__tmp-{uuid.uuid4().hex[:8]}"
    write(tmp)
    _replace_dir(tmp, path)


def swap_partitions(tmp: str, path: str, partition_col: str) -> None:
    """Dynamic partition overwrite as per-partition directory swaps, so
    the merged plan can read the live partitions it replaces: move each
    ``<partition_col>=<v>`` directory of the staging dataset ``tmp``
    over the live one through :func:`_replace_dir`. Untouched partitions
    are never opened; ``tmp`` is removed only after every swap."""
    os.makedirs(path, exist_ok=True)
    prefix = f"{partition_col}="
    for d in os.listdir(tmp):
        if d.startswith(prefix):
            _replace_dir(os.path.join(tmp, d), os.path.join(path, d))
    shutil.rmtree(tmp, ignore_errors=True)


def _commit(df: DataFrame, path: str, partition_by: list[str] | None,
            dynamic: bool) -> None:
    """Write ``df`` (which may read the live table) and commit it over
    ``path``: whole, or with ``dynamic`` only the partitions it holds.
    The caller holds the table's :func:`table_lock`."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    if not dynamic:
        swap_in(path, w.parquet)
        return
    tmp = f"{path}.__tmp-{uuid.uuid4().hex[:8]}"
    w.parquet(tmp)
    swap_partitions(tmp, path, partition_by[0])


def rewrite(spark, path: str, merge: Callable[[DataFrame | None], DataFrame],
            partition_by: list[str] | None = None,
            dynamic: bool = False) -> None:
    """The one read-merge-commit every table rewrite goes through.

    Under :func:`table_lock` it reads the live table (``None`` when
    absent; partition columns as strings, see :func:`read_table`) and
    commits ``merge(existing)``: whole, or with ``dynamic`` only the
    ``partition_by[0]`` partitions it contains. A table with no
    partition column on disk (the legacy flat layout) is committed
    whole; ``merge`` sees that layout and shapes its rows to match.

    The lock spans the read and the swap, so concurrent writers
    serialize (a late one fails with :class:`ConcurrentWriteError` after
    the timeout) and never drop each other's rows. It is not reentrant:
    ``merge`` must not commit to ``path`` itself.
    """
    with table_lock(path):
        existing = (read_table(spark, path, string_partitions=True)
                    if os.path.exists(path) else None)
        out = merge(existing)
        if dynamic and existing is not None:
            dynamic = partition_by[0] in existing.columns
            partition_by = partition_by if dynamic else None
        _commit(out, path, partition_by, dynamic)


def write_swap(df: DataFrame, path: str,
               partition_by: list[str] | None = None) -> None:
    """Replace the table at ``path`` with ``df`` under its
    :func:`table_lock` — K3 drop & recreate (archive.py:240-248) and the
    derived index builds. ``df`` may read from ``path`` itself: the
    table never crosses the driver, and only the commit runs there."""
    with table_lock(path):
        _commit(df, path, partition_by, dynamic=False)


def write_upsert(spark, incoming: DataFrame, path: str, keys: list[str],
                 version_col: str, partition_col: str | None = None) -> None:
    """Keyed upsert (K1): :func:`upsert_plan` of the live table and
    ``incoming``, committed by :func:`rewrite` — what a lakehouse runs
    as ``MERGE WHEN MATCHED UPDATE ALL WHEN NOT MATCHED INSERT ALL``.
    With ``partition_col`` only the partitions present in ``incoming``
    are read, merged and swapped (the 100 TB MERGE shape), which needs
    the pk stable within a partition (a tweet's id fixes its day).
    """
    partitioned = partition_col is not None
    if partitioned:
        touched = [r[0] for r in
                   incoming.select(partition_col).distinct().collect()]
        if not touched:
            return

    def merge(existing: DataFrame | None) -> DataFrame:
        new = incoming
        if existing is None:
            existing = incoming.limit(0)
        elif partition_col in existing.columns:
            # Only the touched partitions: the IN-filter prunes the scan
            # to their directories. Partition values are read verbatim
            # (see read_table), so the cast to the incoming dtype is
            # exact. Membership is null-safe: a NULL partition value
            # lands in __HIVE_DEFAULT_PARTITION__, whose live rows an
            # isin() alone would drop (NULL isin anything is NULL),
            # and the swap would then lose them.
            non_null = [t for t in touched if t is not None]
            pred = (F.col(partition_col).isin(non_null) if non_null
                    else F.lit(False))
            if len(non_null) != len(touched):
                pred = pred | F.col(partition_col).isNull()
            in_type = dict(incoming.dtypes)[partition_col]
            existing = existing.withColumn(
                partition_col, F.col(partition_col).cast(in_type)).filter(pred)
        elif partitioned:
            new = incoming.drop(partition_col)  # legacy flat layout
        out = upsert_plan(existing, new, keys, version_col)
        # A dunder version column is engine bookkeeping — don't persist
        # it. Stored rows then carry no version; on the next merge they
        # union as null, which sorts after any real incoming version
        # under desc ordering, so incoming still beats stored (K1).
        return out.drop(version_col) if version_col.startswith("__") else out

    rewrite(spark, path, merge, [partition_col] if partitioned else None,
            dynamic=partitioned)


def compact_table(spark, path: str, target_bytes: int = 128 << 20,
                  min_files: int = 2) -> bool:
    """Small-file compaction for an upsert-maintained parquet table.

    Every incremental upsert rewrites the table through ``rewrite``,
    but streaming ``foreachBatch`` sinks and partitioned upserts can
    still accumulate many small files — the classic long-running-table
    pathology (each scan pays per-file open/footer costs; at 100 TB a
    million 1 MB files is a listing storm). Compaction rewrites the
    table into ``ceil(total_bytes / target_bytes)`` files through the
    same :func:`rewrite` as the writers, so it can run as online
    maintenance.

    No-ops (returns False) when the table already averages at least
    ``target_bytes / 2`` per file or has fewer than ``min_files`` —
    compaction must be idempotent and cheap to schedule.

    Partitioned tables keep their layout: partition columns are read
    off the ``key=value`` directory structure and the rewrite goes
    through the same ``partitionBy`` — flattening them would strand
    rows outside the directories a partitioned ``write_upsert`` swaps.
    Two desync traps are closed explicitly: partition columns are read
    as strings (``month=01`` must not round-trip to ``month=1`` — the
    upserters match directories by name),
    and a hot partition is salted into ``ceil(bytes/target)`` output
    files instead of collapsing into one task writing one giant file.
    """
    sizes, _ = _walk_sizes(path)
    if len(sizes) < min_files:
        return False
    total = sum(sizes)
    if total / len(sizes) >= target_bytes / 2:
        return False
    part_cols = _partition_cols(path)

    def merge(df: DataFrame) -> DataFrame:
        # Re-size under the lock: the pre-lock walk only decided the
        # cheap no-op; the write plan's bucket counts must match the
        # data actually read (a concurrent upsert may have landed a
        # new hot partition between the two).
        sizes, per_dir = _walk_sizes(path)
        n_out = max(1, -(-sum(sizes) // target_bytes))
        if len(part_cols) == 1:
            # Salt count per partition value via a depth-1 literal map
            # (a when-chain would nest one level per live partition —
            # StackOverflow territory on a years-of-days table): a
            # 50 GB hot day compacts to ~bytes/target files, a tiny
            # day stays one file. Deterministic salt (row-content
            # hash): a retried task re-salts identically, the
            # SPARK-23207 nondeterministic-repartition hazard.
            # Directory names are URI-escaped on disk — unquote before
            # comparing with column VALUES.
            import urllib.parse

            buckets = {
                urllib.parse.unquote(d.split("=", 1)[1]):
                    max(1, -(-b // target_bytes))
                for d, b in per_dir.items() if "=" in d
            }
            entries: list = []
            for v, n in sorted(buckets.items()):
                entries += [F.lit(v), F.lit(n)]
            nb = F.coalesce(
                F.element_at(F.create_map(*entries),
                             F.col(part_cols[0]).cast("string")),
                F.lit(1),
            ) if entries else F.lit(1)
            salt = F.pmod(
                F.hash(*[F.col(c) for c in df.columns]), nb)
            n_tasks = max(1, sum(buckets.values())) if buckets else n_out
            return df.withColumn("__csalt", salt) \
                .repartition(n_tasks, *part_cols, "__csalt") \
                .drop("__csalt")
        if part_cols:
            # Multi-level layouts: salting the top level would scatter
            # leaf directories across tasks and multiply output files;
            # plain repartition on the full partition key keeps one
            # task per leaf (hot single LEAF files stay unsplit — rare
            # for multi-level schemes, whose leaves are fine-grained).
            return df.repartition(max(1, n_out), *part_cols)
        return df.repartition(n_out)

    rewrite(spark, path, merge, part_cols or None)
    return True


def _walk_sizes(path: str) -> tuple[list[int], dict[str, int]]:
    """Parquet file sizes under ``path`` plus bytes per first-level
    entry (partition dir or '.')."""
    sizes: list[int] = []
    per_dir: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        top = rel.split(os.sep)[0] if rel != "." else "."
        for f in files:
            if f.endswith(".parquet"):
                n = os.path.getsize(os.path.join(root, f))
                sizes.append(n)
                per_dir[top] = per_dir.get(top, 0) + n
    return sizes, per_dir


def _partition_cols(path: str) -> list[str]:
    """Partition columns of a parquet dataset, read off the nested
    ``key=value`` directory names (outermost first)."""
    cols: list[str] = []
    cur = path
    while True:
        try:
            subs = [d for d in os.listdir(cur)
                    if "=" in d and not d.startswith(".")
                    and os.path.isdir(os.path.join(cur, d))]
        except OSError:
            return cols
        if not subs:
            return cols
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])


# ---------------------------------------------------------------------
# Versioned tables: snapshot time travel over plain parquet.
#
# Delta/Iceberg are the production answer; this is the same COMMIT PROTOCOL
# hand-rolled on a directory of immutable version snapshots + one
# atomically-replaced manifest, so time travel, as-of reads, version
# diffs (CDC between versions via relational.snapshot_diff) and
# retention vacuum work on any POSIX path with zero dependencies (the
# manifest swap uses os.replace, like the rest of this module's
# rename-based commits; on HDFS/object stores substitute a
# Delta/Iceberg commit — the protocol is the same).
#
# Crash-safety invariants:
#   * data is written BEFORE the manifest commit — readers resolve
#     versions through the manifest only, so a crash mid-write leaves
#     an invisible orphan directory, never a readable half-version;
#   * vacuum commits the shrunk manifest BEFORE deleting directories —
#     a crash leaves orphan dirs (cleanable), never a manifest entry
#     pointing at deleted data;
#   * all manifest mutations run under the advisory table_lock, so
#     concurrent writers serialize and version numbers never collide.
# ---------------------------------------------------------------------

_MANIFEST = "_manifest.json"


def _manifest_path(path: str) -> str:
    return os.path.join(path, _MANIFEST)


def _read_manifest(path: str) -> dict:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return {"versions": []}
    with open(mp) as fh:
        return json.load(fh)


def _commit_manifest(path: str, manifest: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = _manifest_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, _manifest_path(path))


def _version_dir(path: str, v: int) -> str:
    return os.path.join(path, f"v{v:06d}")


def write_version(df: DataFrame, path: str) -> int:
    """Commit ``df`` as the next snapshot version of the table at
    ``path``; returns the new version number. The snapshot itself is
    immutable once committed — updates are new versions, which is what
    makes as-of reads and version diffs exact.

    The (possibly long) distributed write happens OUTSIDE the lock,
    into a uuid staging directory — holding the advisory lock across a
    multi-minute snapshot write would time concurrent writers out
    instead of serializing them. The lock covers only version
    allocation + one rename + the manifest commit."""
    os.makedirs(path, exist_ok=True)
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(staging)
    try:
        with table_lock(path):
            manifest = _read_manifest(path)
            # Allocate past BOTH the manifest and any vNNNNNN
            # directory already on disk: a crash between the rename
            # below and _commit_manifest leaves a manifest-invisible
            # orphan dir, and manifest-max+1 would re-allocate its
            # number — os.rename then fails ENOTEMPTY forever. Orphans
            # stay unreadable (readers resolve through the manifest);
            # skipping their numbers keeps them harmless, as the
            # crash-safety notes above promise.
            on_disk = [int(d[1:]) for d in os.listdir(path)
                       if d.startswith("v") and d[1:].isdigit()]
            v = max(manifest["versions"] + on_disk, default=0) + 1
            os.rename(staging, _version_dir(path, v))
            manifest["versions"].append(v)
            _commit_manifest(path, manifest)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return v


def list_versions(path: str) -> list[int]:
    return sorted(_read_manifest(path)["versions"])


def read_version(spark, path: str, version: int | None = None) -> DataFrame:
    """Time travel: the table as of ``version`` (default: latest
    committed). Reading resolves through the manifest, so uncommitted
    or vacuumed snapshots are never visible."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not available at {path}; "
            f"committed: {versions}")
    return spark.read.parquet(_version_dir(path, version))


def vacuum_versions(path: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the last ``keep_last`` versions.
    Manifest first, directories second — see the crash-safety notes."""
    with table_lock(path):
        manifest = _read_manifest(path)
        versions = sorted(manifest["versions"])
        drop = versions[:-keep_last] if keep_last > 0 else versions
        if not drop:
            return []
        manifest["versions"] = versions[len(drop):]
        _commit_manifest(path, manifest)
        for v in drop:
            shutil.rmtree(_version_dir(path, v), ignore_errors=True)
    return drop


def version_diff(spark, path: str, v_from: int, v_to: int,
                 key_cols: list[str], compare_cols: list[str]) -> DataFrame:
    """CDC between two committed versions: the changelog that replays
    ``v_from`` into ``v_to`` (relational.snapshot_diff, whose
    diff→apply round-trip is law-tested) — Delta's CDF surface on the
    hand-rolled version store."""
    from twitter_to_sqlite_spark.operators import relational as R

    return R.snapshot_diff(
        read_version(spark, path, v_from),
        read_version(spark, path, v_to),
        key_cols, compare_cols)


def gc_plan(spark, path: str, keep_last: int = 2) -> DataFrame:
    """Retention PLAN for the version store: one row per committed
    version with its exact row count and whether a
    ``vacuum_versions(keep_last)`` run would drop it — the dry-run a
    pipeline reviews (and alerts on) before destructive GC, plus the
    fraction of stored rows the vacuum would reclaim.

    Read side is manifest-resolved like every reader, so orphan
    staging/crash dirs are invisible to the plan exactly as they are
    to queries. Scale: one metadata-cheap count aggregate per version
    (parquet row counts come from footer statistics — no data scan);
    the report is |versions| rows, unioned lazily, nothing collected.
    """
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {path}")
    cut = len(versions) - keep_last if keep_last > 0 else len(versions)
    per = None
    for i, v in enumerate(versions):
        row = read_version(spark, path, v).agg(
            F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(v).cast("long").alias("version"),
            "n_rows",
            F.lit(i < cut).alias("expirable"))
        per = row if per is None else per.unionByName(row)
    tot = per.agg(
        F.sum("n_rows").alias("__tot"),
        F.sum(F.when(F.col("expirable"), F.col("n_rows"))
              .otherwise(F.lit(0))).alias("__exp"))
    return per.crossJoin(F.broadcast(tot)).select(
        "version", "n_rows", "expirable",
        F.round(F.col("__exp").cast("double") / F.col("__tot"), 6)
        .alias("reclaim_frac"))


def diff_column_profile(spark, path: str, v_from: int, v_to: int,
                        key_cols: list[str],
                        compare_cols: list[str]) -> DataFrame:
    """Change ATTRIBUTION between two committed versions: which
    columns are actually churning? version_diff answers "which rows
    changed"; a pipeline reviewing an upstream refresh asks the next
    question — was it a price restatement or a status flip — before
    deciding whether downstream incremental jobs must re-run. One row
    per compare column with its changed-row count, plus '_added' /
    '_removed' rows for membership churn.

    Scale: one conditional aggregate over the version_diff frame
    (bounded by CHANGE volume, not table size — snapshot_diff already
    reduced the full outer join to changed rows only), exploded from
    a single row into the |compare_cols|+2 report rows.
    """
    d = version_diff(spark, path, v_from, v_to, key_cols, compare_cols)
    ct = F.col("change_type")
    aggs = [
        F.sum((ct == "added").cast("long")).alias("__added"),
        F.sum((ct == "removed").cast("long")).alias("__removed"),
    ]
    for c in compare_cols:
        changed = (ct == "changed") & ~F.col(f"old_{c}").eqNullSafe(
            F.col(f"new_{c}"))
        aggs.append(F.sum(changed.cast("long")).alias(f"__c_{c}"))
    one = d.agg(*aggs)
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(f"__c_{c}").alias("n"))
            for c in compare_cols]
    rows += [F.struct(F.lit("_added").alias("column"),
                      F.col("__added").alias("n")),
             F.struct(F.lit("_removed").alias("column"),
                      F.col("__removed").alias("n"))]
    return (one.select(F.explode(F.array(*rows)).alias("__r"))
            .select("__r.column", "__r.n"))
