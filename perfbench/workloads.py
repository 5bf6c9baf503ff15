"""The benchmark's workloads. Each one has a set-up, a timed closed loop
of operations and a correctness check against the generator's truth.

``ingest_sync``: incremental ``commands.user_timeline(..., since=True)``
syncs into one growing ``TweetDatabase``.

``lake_query``: interactive reads over a tweet database that
``streaming.capture`` writes (cached per checkout and program version;
the traced run builds its own, so the capture layer is measured there),
interleaved with the relational catalog queries over the lake tables,
each run from empty per-query caches. The traced run adds one probe per
corpus function family and the prebuilt-index builds."""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gen

RELATIONAL = ("facet_count", "latest_per_key", "top_k", "star_join", "anti_join",
              "semi_join", "graph_mutual", "m2m_bridge", "watermark_filter",
              "fts_search", "fts_bm25", "keyword_track", "asof_join",
              "topk_per_group")
# One catalog entry per corpus function family, chosen among those that
# need no prebuilt index; run in the traced run of ``lake_query``.
FAMILY_PROBES = {"dedup_exact": "dedup", "ann_brute_force": "similarity",
                 "graph_triangles": "graph", "quality_score": "text"}
CATALOG_KEYS = RELATIONAL + tuple(FAMILY_PROBES)
# Prebuilt-index builds timed in the traced run of ``lake_query``: the
# dedup, similarity and text families' shared ``_build:`` caches (the
# graph family has none).
BUILD_PROBES = {"_build:minhash_store": "minhash_store",
                "_build:ivf_centroids": "ivf_centroids",
                "_build:ann_lsh_index": "ann_lsh_index",
                "_build:quality_lr": "quality_lr"}
MAX_FAILURES = 3    # a timed loop stops after this many failed operations
HERE = os.path.dirname(os.path.abspath(__file__))
TWEET_TABLES = ("tweets", "users", "places", "sources", "media", "media_tweets")
LAKE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None          # spans.Tracer in the traced run
    counters: object = None        # spans.SparkCounters in the traced run
    latencies: list = field(default_factory=list)
    items: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)   # (name, ok, detail)
    layer: dict = field(default_factory=dict)    # extra per-layer values
    op_counts: list = field(default_factory=list)  # (jobs, stages, tasks) per op
    samples: dict = field(default_factory=dict)  # op kind -> latencies
    helper: object = None          # a workload's helper process, kept out of RSS
    fixture_build_s: float = 0.0   # set-up time spent on a cached fixture, left out of setup_s
    cpu_clock: object = None       # () -> (CPU s of the process tree, of it JIT)
    cpu: list = field(default_factory=list)      # non-JIT CPU seconds per successful op

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def timed(self, kind: str, fn):
        """Run one operation; its latency counts only when it succeeds."""
        op = len(self.latencies) + self.failed
        snap = self.counters.snapshot() if self.counters else None
        if self.tracer:
            self.tracer.op = op
        cpu0 = self.cpu_clock() if self.cpu_clock else (0.0, 0.0)
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span(kind, op=op):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # the loop must go on; the failure is counted
            import traceback

            traceback.print_exc()
            self.failed += 1
            self.check(f"op {kind}", False, repr(e)[:200])
            return None
        dt = time.perf_counter() - t0
        if self.cpu_clock:
            cpu1 = self.cpu_clock()
            self.cpu.append((cpu1[0] - cpu1[1]) - (cpu0[0] - cpu0[1]))
        self.latencies.append(dt)
        self.samples.setdefault(kind, []).append(dt)
        if snap is not None:
            self.op_counts.append(self.counters.since(snap))
        return out


def canon_hash(rows, cols) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result, columns
    taken in name order (the catalog's oracle-parity convention)."""

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(cell(r[i]) for i in order)) for r in rows)
    return len(canon), hashlib.md5("\n".join(canon).encode()).hexdigest()


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[f"{p}:{st.st_ino}"] = st.st_size
    return out


def _leftovers(root: str) -> list[str]:
    bad = []
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            if ".__tmp-" in n or n.endswith(".__lock"):
                bad.append(os.path.join(d, n))
    return bad


def _parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)


def source_digest(*settings) -> str:
    """Digest of the program's Python sources, the generator and this
    file, and ``settings``: a cached fixture is reused only by the code
    and the traffic that wrote it."""
    root = os.path.dirname(HERE)
    pkg = os.path.join(root, "twitter_to_sqlite_spark")
    files = sorted([os.path.join(d, f) for d, _, fs in os.walk(pkg)
                    for f in fs if f.endswith(".py")]
                   + [os.path.join(HERE, "gen.py"), os.path.abspath(__file__)])
    h = hashlib.sha1(repr(settings).encode())
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------- tracing
def install_trace(ctx: Ctx, world: gen.TweetWorld | None) -> None:
    """Spans around the public functions of each layer, plus the
    write-amplification bookkeeping around every table write."""
    from twitter_to_sqlite_spark import commands
    from twitter_to_sqlite_spark.database import TweetDatabase
    from twitter_to_sqlite_spark.operators import checkpoint
    from twitter_to_sqlite_spark.transforms import tweets as TT

    tr = ctx.tracer

    def table_write(args, kwargs):
        db, name = args[0], args[1]
        before = _dir_bytes(db.path(name))

        def after():
            now = _dir_bytes(db.path(name))
            new = {k: v for k, v in now.items() if k not in before}
            ctx.layer["bytes_written"] = ctx.layer.get("bytes_written", 0) + sum(
                new.values())
            parts = {os.path.dirname(k) for k in new if "/day=" in k}
            ctx.layer["partitions_rewritten"] = ctx.layer.get(
                "partitions_rewritten", 0) + len(parts)
        return after

    upsert_name = lambda a, k: f"database.upsert.{a[1]}"  # noqa: E731
    tr.patch(TweetDatabase, "upsert", upsert_name, table_write)
    tr.patch(TweetDatabase, "upsert_partitioned", upsert_name, table_write)
    tr.patch(TweetDatabase, "record_user_counts", "database.record_user_counts")
    tr.patch(checkpoint.WatermarkStore, "get", "checkpoint.watermark_get")
    tr.patch(checkpoint.WatermarkStore, "set", "checkpoint.watermark_set")
    tr.patch(commands, "tweets_dataframe", "commands.tweets_dataframe")
    tr.patch(commands, "save_tweet_batch", "commands.save_tweet_batch")
    tr.patch(TT, "save_tweets", "transforms.save_tweets_plan")
    if world is not None:
        orig_fetch = world.fetch

        def fetch(url, params):
            status, body = orig_fetch(url, params)
            t0 = time.perf_counter()
            ctx.layer["input_bytes"] = ctx.layer.get("input_bytes", 0) + len(
                json.dumps(body))
            tr.overhead_s += time.perf_counter() - t0
            return status, body

        world.fetch = fetch
        tr.patch(world, "fetch", "sources.fetch")


# -------------------------------------------------------- ingest_sync
def capture_files(ctx: Ctx, db, files: list[list[dict]]) -> None:
    """Commit stream files into ``db`` with one availableNow run of
    ``streaming.capture`` and record the capture layer's figures."""
    from twitter_to_sqlite_spark.streaming import capture

    src, staging = os.path.join(ctx.work, "src"), os.path.join(ctx.work, "staging")
    os.makedirs(src)
    os.makedirs(staging)
    for k, rows in enumerate(files):
        gen.write_stream_file(src, staging, k, rows, gen.NOW_EPOCH * 1000 + k)
    q = capture.start_capture(ctx.spark, src, db.root, os.path.join(ctx.work, "ckpt"),
                              available_now=True)
    q.awaitTermination(600)
    # numInputRows counts every scan of the micro-batch (the sink scans
    # it more than once), so rows per batch come from the files.
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    ctx.check("capture ran without error", q.exception() is None and progress,
              f"{len(progress)} batches, error {q.exception()}")
    n = max(1, len(progress))

    def per_batch(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000 / n

    ctx.layer.update({
        "capture.batches": len(progress),
        "capture.rows_per_batch": sum(len(r) for r in files) / n,
        "capture.trigger_s": per_batch("triggerExecution"),
        "capture.add_batch_s": per_batch("addBatch"),
        "capture.wal_commit_s": per_batch("walCommit"),
        "capture.query_planning_s": per_batch("queryPlanning"),
    })


class IngestSync:
    # One synced account: a run times only a few syncs, and each must be
    # an incremental since-id sync, not an account's first full fetch.
    traffic = dict(users=400, zipf_s=1.1, rotation=1, backlog=60,
                   tweets_per_sync=(40, 40), nested_share=0.3, redeliver_share=0.2,
                   media_share=0.1, place_share=0.05, day_spread=14, recent_bias=0.3)
    # The first incremental sync still runs code the warm-up sync did
    # not (merging into existing tables), so the median of three is a
    # warm sync.
    min_ops = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        pass

    def make_inputs(self):
        return (gen.TweetWorld(gen.Traffic(seed=self.ctx.seed, **self.traffic)),)

    def setup(self, world) -> None:
        """One sync before timing: the first run of the write path pays
        the JVM's class loading and code generation."""
        from twitter_to_sqlite_spark import commands
        from twitter_to_sqlite_spark.database import TweetDatabase

        self.world = world
        self.db = TweetDatabase(self.ctx.spark, os.path.join(self.ctx.work, "db"))
        uid = world.next_user()
        world.publish(uid)
        commands.user_timeline(self.ctx.spark, world.fetch, self.db, uid, since=True)

    def measure(self) -> None:
        from twitter_to_sqlite_spark import commands

        ctx, world = self.ctx, self.world
        deadline = time.perf_counter() + ctx.seconds
        while ctx.failed < MAX_FAILURES and (
                time.perf_counter() < deadline
                or len(ctx.latencies) + ctx.failed < self.min_ops):
            uid = world.next_user()
            world.publish(uid)
            n = ctx.timed("commands.user_timeline", lambda: commands.user_timeline(
                ctx.spark, world.fetch, self.db, uid, since=True))
            if n is not None:
                ctx.items += n
        ctx.layer["sinks.files_live"] = _parquet_files(self.db.root)

    def trace_extra(self) -> None:
        pass

    def verify(self) -> None:
        from pyspark.sql import functions as F

        ctx, w, db = self.ctx, self.world, self.db
        got = {t: db.read(t).count() for t in TWEET_TABLES}
        want = {"tweets": len(w.exp_tweets), "users": len(w.exp_users),
                "places": len(w.exp_places), "sources": len(w.exp_sources),
                "media": len(w.exp_media), "media_tweets": len(w.exp_media_tweets)}
        for t in TWEET_TABLES:
            ctx.check(f"{t} rows", got[t] == want[t], f"got {got[t]} want {want[t]}")
        counts = {r[0]: (r[1], r[2]) for r in db.read("tweets").select(
            "id", "retweet_count", "favorite_count").collect()}
        stale = [i for i, c in w.exp_tweets.items() if counts.get(i) != c]
        ctx.check("re-delivered tweets carry their latest counts", not stale,
                  f"{len(stale)} stale, e.g. {stale[:3]}")
        since = {r["key"]: r["since_id"] for r in db.read("since_ids").filter(
            F.col("type") == 1).collect()}
        want_since = {f"id:{u}": m for u, m in w.exp_since.items()}
        ctx.check("since_ids equal the max id per user", since == want_since,
                  f"{len(since)} keys vs {len(want_since)}")
        hist = Counter((r[0], r[1], r[2]) for r in db.read("count_history").select(
            "type", "user", "count").collect())
        ctx.check("count_history rows", hist == Counter(w.exp_count_history),
                  f"got {sum(hist.values())} want {len(w.exp_count_history)}")
        left = _leftovers(db.root)
        ctx.check("no leftover tmp/lock paths", not left, str(left[:3]))


# --------------------------------------------------------- lake_query
class LakeQuery:
    sf = 0.02
    traffic = dict(users=300, zipf_s=1.1, media_share=0.1, place_share=0.05,
                   day_spread=14, recent_bias=0.3, stream_file_tweets=30,
                   stream_redeliver=0.3)
    stream_files = 20
    # The tweet database comes from one fixed seed and is cached per
    # checkout under the digest of the sources and the traffic: its cold
    # capture costs about 25 s, which would otherwise double every run.
    # ``--seed`` picks the lake tables, the query order and the read
    # parameters.
    fixture_seed = 0
    warmup_threads = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.lake = os.path.join(ctx.work, "lake")

    def prepare(self) -> None:
        """Start the lake tables and their oracle answers in a helper
        process; it runs while the session starts."""
        here = os.path.dirname(os.path.abspath(__file__))
        self.ctx.helper = subprocess.Popen(
            [sys.executable, os.path.join(here, "lake_prep.py"), self.lake,
             str(self.ctx.seed), str(self.sf), *CATALOG_KEYS])

    def make_inputs(self):
        world = gen.TweetWorld(gen.Traffic(seed=self.fixture_seed, **self.traffic))
        return world, world.stream_files(self.stream_files)

    def _build_fixture(self, path: str, files) -> None:
        """The tweet database, written by one ``streaming.capture``
        micro-batch and indexed for FTS, then renamed into place."""
        from twitter_to_sqlite_spark.database import TweetDatabase

        t0 = time.perf_counter()
        tmp = f"{path}.tmp-{os.getpid()}"
        db = TweetDatabase(self.ctx.spark, os.path.join(tmp, "db"))
        capture_files(self.ctx, db, files)
        db.build_fts("tweets", "id", ["full_text"])
        try:
            os.rename(tmp, path)
        except OSError:      # another run put the same fixture in place first
            shutil.rmtree(tmp, ignore_errors=True)
        self.ctx.fixture_build_s = time.perf_counter() - t0

    def setup(self, world, files) -> None:
        from twitter_to_sqlite_spark.database import TweetDatabase

        ctx = self.ctx
        self.world = world
        if ctx.tracer is not None:
            # The traced run writes its own, so the capture figures come
            # from this run's code.
            fixture = os.path.join(ctx.work, "tweetdb")
        else:
            digest = source_digest(self.traffic, self.stream_files, self.fixture_seed)
            fixture = os.path.join(os.path.dirname(ctx.work), "fixtures",
                                   f"lake_tweets-{digest}")
        if not os.path.isdir(fixture):
            self._build_fixture(fixture, files)
        self.db = TweetDatabase(ctx.spark, os.path.join(fixture, "db"))
        ctx.layer["sinks.files_live"] = _parquet_files(self.db.root)
        self.ops = self._op_list()
        self.results: list[tuple[str, object, tuple[list, list]]] = []
        if ctx.helper.wait(timeout=300) != 0:
            raise RuntimeError(f"lake_prep.py exited with {ctx.helper.returncode}")
        with open(os.path.join(self.lake, "oracle.json")) as f:
            self.oracle_hashes = {k: tuple(v) for k, v in json.load(f).items()}
        # One untimed pass over the op list, a few operations at a time:
        # the session's first scans, joins and aggregations load the
        # classes every query uses, and each query's generated code is
        # compiled into the session's code cache. On a cold JVM that
        # compilation costs seconds that vary from run to run; the timed
        # cycle measures what a repeated query pays: planning, job
        # scheduling and scans.
        with ThreadPoolExecutor(self.warmup_threads) as pool:
            list(pool.map(lambda op: self._run_op(*op, fresh=False), self.ops))

    def _op_list(self) -> list[tuple[str, str, object]]:
        """(kind, key, argument): the 14 relational catalog queries
        alternating with as many tweet-database reads (four searches,
        four since-id pages, two of each other read), in seeded order
        with seeded terms and since-ids."""
        r = random.Random(self.ctx.seed)
        cat = [("relational", q, None) for q in RELATIONAL]
        ids = sorted(self.world.exp_tweets)
        tw = [("database.search_fts", "fts", t) for t in r.sample(gen.SEARCH_TERMS, 4)]
        tw += [("database.read.since_page", "since",
                ids[int(len(ids) * r.uniform(0.2, 0.9))]) for _ in range(4)]
        tw += [("database.read.facet_source", "facet_source", None),
               ("database.read.latest_per_user", "latest_per_user", None),
               ("database.read.join_users_sources", "join_users_sources", None)] * 2
        r.shuffle(cat)
        r.shuffle(tw)
        return [op for pair in zip(cat, tw) for op in pair]

    def _run_op(self, kind: str, key: str, arg, fresh: bool = True):
        """One operation, its result collected. A catalog query starts
        from empty per-query caches when ``fresh`` (the concurrent
        warm-up leaves them alone)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from twitter_to_sqlite_spark.plans import catalog

        spark, db = self.ctx.spark, self.db
        if key in CATALOG_KEYS:
            if fresh:
                catalog.clear_caches()
            df = catalog.QUERIES[key](spark, self.lake)
        elif kind == "database.search_fts":
            df = db.search_fts("tweets", [arg]).select("id")
        elif key == "since":
            df = (db.read("tweets").filter(F.col("id") > arg).orderBy("id")
                  .limit(50).select("id", "user"))
        elif key == "facet_source":
            df = (db.read("tweets").join(db.read("sources").withColumnRenamed(
                "id", "source"), "source").groupBy("name").count())
        elif key == "latest_per_user":
            w = Window.partitionBy("user").orderBy(F.col("id").desc())
            df = (db.read("tweets").withColumn("rn", F.row_number().over(w))
                  .filter("rn = 1").select("user", "id"))
        else:
            users = db.read("users").select(F.col("id").alias("user"), "screen_name")
            srcs = db.read("sources").select(F.col("id").alias("source"),
                                             F.col("name").alias("client"))
            df = (db.read("tweets").join(users, "user").join(srcs, "source")
                  .groupBy("screen_name", "client").count())
        return df.collect(), df.columns

    def measure(self) -> None:
        """Whole cycles of the op list until the time is up, so every
        run times the same mix whatever the program's speed."""
        ctx = self.ctx
        deadline = time.perf_counter() + ctx.seconds
        while True:
            for kind, key, arg in self.ops:
                name = f"relational.{key}" if kind == "relational" else kind
                out = ctx.timed(name, lambda: self._run_op(kind, key, arg))
                if out is not None:
                    self.results.append((key, arg, out))
                    ctx.items += 1
            if time.perf_counter() >= deadline or ctx.failed >= MAX_FAILURES:
                return

    def trace_extra(self) -> None:
        """After the timed loop (spans of op -2): each family probe of
        ``FAMILY_PROBES`` once, its result checked with the others, then
        the prebuilt indexes of ``BUILD_PROBES``, each built once from
        empty caches."""
        from twitter_to_sqlite_spark.plans import catalog

        ctx = self.ctx
        for key, fam in FAMILY_PROBES.items():
            try:
                with ctx.tracer.span(f"functions.{fam}", op=-2):
                    self.results.append((key, None, self._run_op("functions", key, None)))
            except Exception as e:
                ctx.check(f"{key} ran", False, repr(e)[:200])
        catalog.clear_caches(include_infra=True)
        for key, name in BUILD_PROBES.items():
            try:
                with ctx.tracer.span(f"plans.build.{name}", op=-2):
                    catalog.INFRA_BUILDS[key](ctx.spark, self.lake)
                ctx.check(f"index build {name}", True)
            except Exception as e:
                ctx.check(f"index build {name}", False, repr(e)[:200])

    def _expected(self, key: str, arg):
        w = self.world
        if key == "fts":
            return [(i,) for i, t in w.exp_tweet_text.items()
                    if arg in gen.tokens(gen.stored_text(t, i))], ["id"]
        if key == "since":
            ids = sorted(i for i in w.exp_tweets if i > arg)[:50]
            return [(i, w.exp_tweet_user[i]) for i in ids], ["id", "user"]
        if key == "facet_source":
            return [(n, c) for n, c in Counter(w.exp_tweet_source.values()).items()], \
                ["name", "count"]
        if key == "latest_per_user":
            best: dict[int, int] = {}
            for i, u in w.exp_tweet_user.items():
                best[u] = max(best.get(u, 0), i)
            return [(u, i) for u, i in best.items()], ["user", "id"]
        pairs = Counter((w.users[u]["screen_name"], w.exp_tweet_source[i])
                        for i, u in w.exp_tweet_user.items())
        return [(s, c, n) for (s, c), n in pairs.items()], ["screen_name", "client", "count"]

    def verify(self) -> None:
        ctx, want = self.ctx, {}
        for key, arg, out in self.results:
            if (key, arg) not in want:
                want[key, arg] = (self.oracle_hashes.get(key, (-1, "oracle failed"))
                                  if key in CATALOG_KEYS
                                  else canon_hash(*self._expected(key, arg)))
            got = canon_hash(*out)
            name = key if arg is None else f"{key}:{arg}"
            ctx.check(f"{name} matches its reference", got == want[key, arg],
                      f"got {got[0]} rows want {want[key, arg][0]}")


WORKLOADS = {"ingest_sync": IngestSync, "lake_query": LakeQuery}
