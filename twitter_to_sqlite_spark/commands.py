"""Ingest commands: the reference's CLI surface (cli.py's 18
subcommands) as composable functions over (spark, fetch, TweetDatabase).

Each command wires a §2.1 source loop through the §2.3 transform
pipeline into §2.2 sinks, with §2.8 watermarks — the Spark shape of
the reference's entry points (SURVEY §3). HTTP is injected (`fetch`)
so everything is testable offline; the CLI veneer (cli.py) binds the
real OAuth session when credentials exist.
"""

from __future__ import annotations

import hashlib
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_to_sqlite_spark import schemas
from twitter_to_sqlite_spark.database import TweetDatabase
from twitter_to_sqlite_spark.progress import ProgressReporter, timeline_expected
from twitter_to_sqlite_spark.session import local_frame
from twitter_to_sqlite_spark.sources import api
from twitter_to_sqlite_spark.transforms import tweets as TT

URLS = {
    "user_timeline": "https://api.twitter.com/1.1/statuses/user_timeline.json",
    "home_timeline": "https://api.twitter.com/1.1/statuses/home_timeline.json",
    "mentions": "https://api.twitter.com/1.1/statuses/mentions_timeline.json",
    "favorites": "https://api.twitter.com/1.1/favorites/list.json",
    "search": "https://api.twitter.com/1.1/search/tweets.json",
    "users_lookup": "https://api.twitter.com/1.1/users/lookup.json",
    "statuses_lookup": "https://api.twitter.com/1.1/statuses/lookup.json",
    "users_show": "https://api.twitter.com/1.1/users/show.json",
    "verify": "https://api.twitter.com/1.1/account/verify_credentials.json",
    "followers_list": "https://api.twitter.com/1.1/followers/list.json",
    "friends_list": "https://api.twitter.com/1.1/friends/list.json",
    "followers_ids": "https://api.twitter.com/1.1/followers/ids.json",
    "friends_ids": "https://api.twitter.com/1.1/friends/ids.json",
    "lists_ownerships": "https://api.twitter.com/1.1/lists/ownerships.json",
    "list_members": "https://api.twitter.com/1.1/lists/members.json",
}


def json_dataframe(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Raw API dicts → typed DataFrame via the declared schema (a json
    round-trip keeps nested structs aligned with the schema).

    The documents travel as an Arrow-backed LocalRelation and are
    parsed by ``from_json`` inside the JVM — no Python worker. The
    ``coalesce(1)`` makes the chunk report SinglePartition, which lets
    Catalyst plan the per-key windows and distincts of save_tweets
    over it without a batch-side exchange (the chunk is one driver
    buffer, so nothing is lost by not spreading it).
    """
    docs = local_frame(spark, [(json.dumps(r),) for r in rows], "value string")
    return (
        docs.select(F.from_json("value", schema).alias("r"))
        .select("r.*")
        .coalesce(1)
    )


def tweets_dataframe(spark: SparkSession, rows: list) -> DataFrame:
    return json_dataframe(spark, rows, schemas.tweet_schema())


def users_dataframe(spark: SparkSession, rows: list) -> DataFrame:
    return json_dataframe(spark, rows, schemas.user_schema())


def save_tweet_batch(db: TweetDatabase, raw: DataFrame,
                     batch_id: int | None = None) -> None:
    """save_tweets fan-out (§3.1 step 5): every output table upserted
    by pk; count_history recorded from the users batch.

    The batch is normalized once: the raw batch and all six save_tweets
    outputs are persisted for the duration of the fan-out, so the
    touched-days collect, the six upserts and count history read the
    cached normalized tables instead of re-planning and re-running the
    normalization per action. MEMORY_AND_DISK (not localCheckpoint) so
    a lost executor recomputes from lineage instead of failing the
    batch; everything is unpersisted when the batch ends.
    """
    from pyspark import StorageLevel

    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    out: dict[str, DataFrame] = {}
    try:
        out = {name: df.persist(StorageLevel.MEMORY_AND_DISK)
               for name, df in TT.save_tweets(raw).items()}
        bid = batch_id if batch_id is not None else time.time_ns()
        # The fact table is date-partitioned (created-at day) so each
        # batch rewrites only the days it touches — at archive scale a
        # backfill of one month never touches the other years.
        facts = out["tweets"].withColumn(
            "day",
            F.coalesce(F.substring("created_at", 1, 10), F.lit("unknown")),
        )
        db.upsert_partitioned("tweets", facts, ["id"], "day", bid)
        db.upsert("users", out["users"], ["id"], bid)
        db.upsert("places", out["places"], ["id"], bid)
        db.upsert("sources", out["sources"], ["id"], bid)
        db.upsert("media", out["media"], ["id"], bid)
        db.upsert("media_tweets", out["media_tweets"],
                  ["media_id", "tweets_id"], bid)
        db.record_user_counts(out["users"])
    finally:
        for df in out.values():
            df.unpersist()
        raw.unpersist()


# How many fetched tweets to buffer on the driver before flushing to
# the distributed save pipeline. The reference saves every 100 tweets
# (cli.py:312-320); here each flush is a distributed multi-table merge,
# so a larger chunk amortizes the merge cost while still bounding
# driver memory to O(chunk) regardless of scan length — an offline
# --input-json replay of millions of rows never accumulates them all.
SCAN_CHUNK_ROWS = 2000


def _scan_and_save(spark, fetch, db, url, args, since_type, since_key,
                   since, since_id, stop_after, key=None, sleep=0.0,
                   bridge: tuple[str, object] | None = None,
                   extra_tweet_rows_cb=None, progress=None,
                   chunk_rows: int | None = None) -> int:
    """Shared timeline ingest (S1/S2/S3/S4 → save pipeline → C1),
    the reference's _shared_timeline/fetch_timeline shape. ``progress``
    is an O4 ProgressReporter updated once per fetched page
    (reference cli.py:298-320 advances its bar per tweet; per-page is
    the same signal at the granularity the scan actually has).

    Pages are flushed to the save pipeline every ``chunk_rows`` tweets
    (reference: 100-tweet buffers, cli.py:312-320) — the driver holds
    at most one chunk, so replaying an arbitrarily large offline input
    streams through instead of materializing in a driver list. Bridge
    and provenance rows are saved per-chunk through the same keyed
    upserts, which makes the chunked path idempotent and
    order-independent.

    ``since_type=None`` runs the scan without C1 watermark bookkeeping
    — the reference registers since-id types only for user/home/
    mentions/search (utils.py:19-24); favorites deliberately has none.
    """
    if since and since_id is None and since_type is not None:
        since_id = db.watermarks.get(since_type, since_key)
    scan = api.TimelineScan(
        fetch, url, args=dict(args), since_id=since_id,
        stop_after=stop_after, key=key, sleep=sleep, sleep_fn=lambda s: None,
    )
    limit = chunk_rows or SCAN_CHUNK_ROWS
    total = 0
    max_seen = None
    rows: list = []

    def flush():
        nonlocal rows
        if not rows:
            return
        raw = tweets_dataframe(spark, rows)
        save_tweet_batch(db, raw)
        if bridge:
            table, ident = bridge
            bdf = local_frame(
                spark, [(int(ident), int(r["id"])) for r in rows], "user long, tweet long"
            )
            db.upsert(table, bdf, ["user", "tweet"])
        if extra_tweet_rows_cb:
            extra_tweet_rows_cb(rows)
        rows = []

    for page in scan.pages():
        rows.extend(page.rows)
        total += len(page.rows)
        if progress is not None:
            progress.update(len(page.rows))
        if page.max_id is not None:
            max_seen = max(max_seen or 0, page.max_id)
        if len(rows) >= limit:
            flush()
    flush()
    if max_seen is not None and since_type is not None:
        db.watermarks.set(since_type, since_key, max_seen)
    if progress is not None:
        progress.finish()
    return total


def resolve_profile(fetch, identifier=None) -> dict:
    """Resolve an identifier to a full user profile: users/show for an
    id or screen name, verify_credentials when None (the reference
    resolves every identifier to a profile before scanning and defaults
    to the authenticated user, cli.py:215-260)."""
    if identifier is None:
        status, body = fetch(URLS["verify"], {})
        if isinstance(body, dict) and body.get("errors"):
            raise api.ApiError(body["errors"])
        return body
    s = str(identifier)
    if s.lstrip("-").isdigit():
        return api.get_profile(fetch, URLS["users_show"], user_id=int(s))
    return api.get_profile(fetch, URLS["users_show"], screen_name=s)


def user_timeline(spark, fetch, db: TweetDatabase, identifier=None,
                  since=False, since_id=None, stop_after=None,
                  on_progress=None, render_progress=False) -> int:
    """user-timeline (cli.py:215-320): per-user statuses scan, watermark
    key id:{user_id} (utils.py:228-249).

    `identifier` may be a numeric user id (no extra fetch), a screen
    name (resolved via users/show, profile saved like the reference),
    or None (the authenticated user via verify_credentials).

    O4: when progress is requested the profile is always resolved so
    the reporter gets the reference's expected total —
    ``statuses_count``, cleared under since/since_id (cli.py:294-297)."""
    s = str(identifier) if identifier is not None else None
    want_progress = on_progress is not None or render_progress
    profile = None
    if s is not None and s.lstrip("-").isdigit() and not want_progress:
        user_id = int(s)
    else:
        profile = resolve_profile(fetch, identifier)
        user_id = int(profile["id"])
        prof = TT.transform_user(users_dataframe(spark, [profile]))
        db.upsert("users", prof, ["id"])
    prog = None
    if want_progress:
        expected = timeline_expected(profile or {}, "statuses", since, since_id)
        name = (profile or {}).get("screen_name", user_id)
        prog = ProgressReporter(f"Importing tweets for @{name}", expected,
                                on_event=on_progress, render=render_progress)
    return _scan_and_save(
        spark, fetch, db, URLS["user_timeline"],
        {"user_id": user_id, "tweet_mode": "extended"},
        "user", f"id:{user_id}", since, since_id, stop_after,
        progress=prog,
    )


def home_timeline(spark, fetch, db: TweetDatabase, auth_user_id: int,
                  since=False, since_id=None) -> int:
    """home-timeline (cli.py:323-352): bridges rows into
    timeline_tweets for provenance."""
    return _scan_and_save(
        spark, fetch, db, URLS["home_timeline"], {"tweet_mode": "extended"},
        "home", str(auth_user_id), since, since_id, None,
        bridge=("timeline_tweets", auth_user_id),
    )


def mentions_timeline(spark, fetch, db: TweetDatabase, auth_user_id: int,
                      since=False, since_id=None) -> int:
    """mentions-timeline (cli.py:355-385): bridges into mentions_tweets."""
    return _scan_and_save(
        spark, fetch, db, URLS["mentions"], {"tweet_mode": "extended"},
        "mentions", str(auth_user_id), since, since_id, None,
        bridge=("mentions_tweets", auth_user_id),
    )


def favorites(spark, fetch, db: TweetDatabase, user_id: int,
              stop_after=None, on_progress=None,
              render_progress=False) -> int:
    """favorites (cli.py:185-212): saves tweets + favorited_by bridge
    (utils.py:435-441), through the shared chunked scan path —
    since_type=None because the reference registers no favorites
    since-id type (utils.py:19-24)."""
    prog = None
    if on_progress is not None or render_progress:
        prog = ProgressReporter("Importing favorites", None,
                                on_event=on_progress, render=render_progress)
    return _scan_and_save(
        spark, fetch, db, URLS["favorites"],
        {"user_id": user_id, "tweet_mode": "extended"},
        None, None, False, None, stop_after,
        bridge=("favorited_by", user_id), progress=prog,
    )


def search(spark, fetch, db: TweetDatabase, q: str, since=False,
           **search_args) -> int:
    """search (cli.py:770-880): args-hash watermark key (P13), search_runs
    provenance row + search_runs_tweets bridge."""
    args = {"q": q}
    args.update({k: v for k, v in search_args.items() if v is not None})
    args_hash = hashlib.sha1(
        json.dumps(args, separators=(",", ":"), sort_keys=True).encode()
    ).hexdigest()

    existing_runs = db.read("search_runs")
    run_id = (existing_runs.agg(F.max("id")).collect()[0][0] + 1) if existing_runs is not None else 1
    started = time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime())

    def record_run_and_bridge(rows):
        run_df = local_frame(
            spark, [(run_id, args.get("q"), json.dumps(args, sort_keys=True), started, args_hash)],
            "id long, name string, args string, started string, hash string",
        )
        db.upsert("search_runs", run_df, ["id"])
        bdf = local_frame(
            spark, [(run_id, int(r["id"])) for r in rows], "search_run long, tweet long"
        )
        db.upsert("search_runs_tweets", bdf, ["search_run", "tweet"])

    return _scan_and_save(
        spark, fetch, db, URLS["search"],
        dict(args, tweet_mode="extended", count=100),
        "search", args_hash, since, None, None, key="statuses",
        extra_tweet_rows_cb=record_run_and_bridge,
    )


def users_lookup(spark, fetch, db: TweetDatabase, identifiers: list,
                 use_ids=False) -> int:
    """users-lookup (cli.py:434-456): 70-per-request batched lookup →
    users upsert + count history (S6)."""
    total = 0
    for batch in api.batch_lookup(
        fetch, URLS["users_lookup"], identifiers,
        "user_id" if use_ids else "screen_name", 70,
    ):
        users = users_dataframe(spark, batch)
        users_t = TT.transform_user(users)
        db.upsert("users", users_t, ["id"])
        db.record_user_counts(users_t)
        total += len(batch)
    return total


def statuses_lookup(spark, fetch, db: TweetDatabase, identifiers: list,
                    skip_existing=False) -> int:
    """statuses-lookup (cli.py:459-500): 100-per-request batched tweet
    hydration; --skip-existing = anti-join against stored ids (F1/J1)."""
    ids = [int(i) for i in identifiers]
    if skip_existing:
        existing = db.read("tweets")
        if existing is not None:
            ids_df = local_frame(spark, [(i,) for i in ids], "id long")
            ids = [
                r["id"]
                for r in ids_df.join(existing.select("id"), "id", "left_anti").collect()
            ]
    total = 0
    for batch in api.batch_lookup(
        fetch, URLS["statuses_lookup"], ids, "id", 100,
        extra_args={"tweet_mode": "extended"},
    ):
        if batch:
            save_tweet_batch(db, tweets_dataframe(spark, batch))
            total += len(batch)
    return total


def _save_following_edges(spark, db, followed_id, follower_ids,
                          first_seen: str | None = None) -> None:
    """following edge rows with preserved first_seen (K2,
    utils.py:459-469)."""
    now = first_seen or time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime())
    edges = local_frame(
        spark, [(int(followed_id), int(f), now) for f in follower_ids],
        "followed_id long, follower_id long, first_seen string",
    )
    db.insert_if_absent("following", edges, ["followed_id", "follower_id"])


def followers(spark, fetch, db: TweetDatabase, profile: dict,
              reverse=False, on_progress=None, render_progress=False) -> int:
    """followers/friends (cli.py:86-183): cursored 200-user pages →
    users upsert + following edges. reverse=True = friends (profile
    follows them).

    O4: expected total from the profile's followers/friends count, the
    reference's progressbar length (cli.py:151-157)."""
    url = URLS["friends_list"] if reverse else URLS["followers_list"]
    noun = "friends" if reverse else "followers"
    prog = None
    if on_progress is not None or render_progress:
        expected = timeline_expected(profile, noun)
        who = profile.get("screen_name", profile.get("id"))
        label = (f"Importing {expected:,} {noun} for @{who}"
                 if expected is not None else f"Importing {noun} for @{who}")
        prog = ProgressReporter(label, expected, on_event=on_progress,
                                render=render_progress)
    total = 0
    for page in api.cursor_paginate(
        fetch, url, {"user_id": profile["id"]}, "users", page_size=200
    ):
        users = TT.transform_user(users_dataframe(spark, page))
        db.upsert("users", users, ["id"])
        db.record_user_counts(users)
        ids = [u["id"] for u in page]
        if reverse:
            for fid in ids:
                _save_following_edges(spark, db, fid, [profile["id"]])
        else:
            _save_following_edges(spark, db, profile["id"], ids)
        total += len(page)
        if prog is not None:
            prog.update(len(page))
    # The profile user itself is also saved (cli.py:149) — but only a
    # hydrated profile: replace-upserting an id-only stub would null
    # out every column of an already-hydrated users row.
    if set(profile) - {"id"}:
        prof = TT.transform_user(users_dataframe(spark, [profile]))
        db.upsert("users", prof, ["id"])
        db.record_user_counts(prof)
    if prog is not None:
        prog.finish()
    return total


def followers_ids(spark, fetch, db: TweetDatabase, profile_id: int,
                  reverse=False) -> int:
    """followers-ids/friends-ids (cli.py:572-641): 5000-id pages →
    following edges only (no user hydration)."""
    url = URLS["friends_ids"] if reverse else URLS["followers_ids"]
    total = 0
    for page in api.cursor_paginate(
        fetch, url, {"user_id": profile_id}, "ids", page_size=5000
    ):
        if reverse:
            edges = [(int(i), int(profile_id)) for i in page]
        else:
            edges = [(int(profile_id), int(i)) for i in page]
        now = time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime())
        df = local_frame(
            spark, [(a, b, now) for a, b in edges],
            "followed_id long, follower_id long, first_seen string",
        )
        db.insert_if_absent("following", df, ["followed_id", "follower_id"])
        total += len(page)
    return total


def lists_command(spark, fetch, db: TweetDatabase, user_id: int,
                  members=False) -> int:
    """lists (cli.py:503-543): the user's list ownerships → lists dim;
    --members additionally fetches each list's members bridge."""
    total = 0
    for page in api.cursor_paginate(
        fetch, URLS["lists_ownerships"], {"user_id": user_id}, "lists"
    ):
        rows = []
        for lst in page:
            r = dict(lst)
            user = r.pop("user", None)
            if user is not None:
                users = TT.transform_user(users_dataframe(spark, [user]))
                db.upsert("users", users, ["id"])
                r["user"] = user["id"]
            r.pop("id_str", None)
            rows.append(r)
        df = json_dataframe(spark, rows, schemas.list_schema())
        db.upsert("lists", df, ["id"])
        total += len(page)
        if members:
            for lst in page:
                list_members(spark, fetch, db, lst["id"])
    return total


def list_members(spark, fetch, db: TweetDatabase, list_id) -> int:
    """list-members (cli.py:546-569; utils.py:552-568): 5000-per-page
    member scan → users upsert + list_members bridge."""
    total = 0
    for page in api.cursor_paginate(
        fetch, URLS["list_members"], {"list_id": list_id}, "users", page_size=5000
    ):
        users = TT.transform_user(users_dataframe(spark, page))
        db.upsert("users", users, ["id"])
        bdf = local_frame(
            spark, [(int(list_id), int(u["id"])) for u in page], "list long, user long"
        )
        db.upsert("list_members", bdf, ["list", "user"])
        total += len(page)
    return total


def import_archive_command(spark, db: TweetDatabase, path: str) -> list[str]:
    """import (cli.py:737-767): archive zip/dir → archive_* tables,
    full-refresh overwrite (K3)."""
    from twitter_to_sqlite_spark.sources.archive import import_archive

    tables = import_archive(spark, path)
    for name, df in tables.items():
        db.overwrite(name, df)
    return sorted(tables)
