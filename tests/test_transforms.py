"""Golden tests for the tweet normalization pipeline (SURVEY §5 item 1:
the reference's test_save_tweets.py shape — fixture pushed through
save_tweets, exact table contents asserted — on our own fixture)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from twitter_to_sqlite_spark import schemas
from twitter_to_sqlite_spark.transforms import tweets as TT

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "tweets.json")


@pytest.fixture(scope="module")
def saved(spark):
    raw = spark.read.schema(schemas.tweet_schema()).json(FIXTURE)
    return {k: v.collect() for k, v in TT.save_tweets(raw).items()}


def _by_id(rows, key="id"):
    return {r[key]: r.asDict() for r in rows}


def test_tweet_rows_and_nested_flattening(saved):
    t = _by_id(saved["tweets"])
    # 3 top-level + 2 nested (retweeted 8001, quoted 8002)
    assert sorted(t) == [8001, 8002, 9001, 9002, 9003]
    # parent keeps only the FK to the nested original (P5)
    assert t[9001]["retweeted_status"] == 8001
    assert t[9002]["quoted_status"] == 8002
    assert t[9003]["retweeted_status"] is None
    # user/place structs replaced by FK ids (P6)
    assert t[9001]["user"] == 101
    assert t[8001]["user"] == 501
    assert t[9003]["place"] == "3f8a2b1c9d0e4f56"
    assert t[9001]["place"] is None


def test_entity_expansion_and_unescape(saved):
    t = _by_id(saved["tweets"])
    # P1: t.co replaced by expanded_url; P2: &amp; unescaped
    assert (
        t[9001]["full_text"]
        == "RT @scenic_routes: Mountains & valleys guide https://hikes.example.com/guide"
    )
    assert t[8001]["full_text"] == "Mountains & valleys guide https://hikes.example.com/guide"
    # &lt;3 → <3
    assert t[9002]["full_text"].startswith("Great thread on tidal pools <3 ")
    assert t[9002]["full_text"].endswith("https://coast.example.com/thread/88")


def test_iso_timestamps_and_dropped_columns(saved):
    t = _by_id(saved["tweets"])
    assert t[9001]["created_at"] == "2020-02-03T10:20:30+00:00"
    assert t[8002]["created_at"] == "2020-02-04T07:45:10+00:00"
    for dropped in ("id_str", "quoted_status_id", "quoted_status_permalink", "entities"):
        assert dropped not in t[9001]


def test_users_dim(saved):
    u = _by_id(saved["users"])
    assert sorted(u) == [101, 501, 502]
    # P3: description/url entity expansion via user entities; NOTE the
    # reference unescapes HTML only in tweet text (utils.py:301), not in
    # user descriptions — &amp; stays.
    assert u[101]["description"] == "Maps &amp; trails https://trails.example.com"
    assert u[101]["url"] == "https://robin.example.com"
    assert u[101]["created_at"] == "2016-11-15T13:18:50+00:00"
    assert "entities" not in u[101] and "id_str" not in u[101]
    # top-level observation beats nested (501 appears nested too)
    assert u[501]["screen_name"] == "scenic_routes"


def test_sources_dim_hash_ids(saved):
    s = {r["name"]: r.asDict() for r in saved["sources"]}
    assert sorted(s) == ["Example Mobile", "Example Web"]
    assert s["Example Mobile"]["url"] == "https://mobile.example.com"
    # hash_id = sha1 of canonical {"name":...,"url":...} JSON
    expected = hashlib.sha1(
        json.dumps(
            {"name": "Example Mobile", "url": "https://mobile.example.com"},
            separators=(",", ":"),
        ).encode()
    ).hexdigest()
    assert s["Example Mobile"]["id"] == expected
    # fact column rewritten to the hash (P4/migration semantics)
    t = _by_id(saved["tweets"])
    assert t[9001]["source"] == expected


def test_media_and_bridge(saved):
    m = _by_id(saved["media"])
    assert sorted(m) == [7001]
    assert m[7001]["type"] == "photo"
    assert m[7001]["sizes"]["large"]["w"] == 2048
    bridge = {(r["media_id"], r["tweets_id"]) for r in saved["media_tweets"]}
    assert bridge == {(7001, 9003)}


def test_places_dim(saved):
    p = _by_id(saved["places"])
    assert sorted(p) == ["3f8a2b1c9d0e4f56"]
    assert p["3f8a2b1c9d0e4f56"]["full_name"] == "Harbor City, Coastland"


def test_streaming_fixup(spark):
    # P7: extended_tweet.full_text wins over truncated text
    rows = [
        ("short text", {"full_text": "the very long untruncated text"}, "ignored"),
        ("only text", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "full_text string, extended_tweet struct<full_text string>, text string",
    )
    out = [r["full_text"] for r in TT.fix_streaming_tweet(df).collect()]
    assert out == ["the very long untruncated text", "only text"]
    # text-only payload (classic streaming): full_text absent
    df2 = spark.createDataFrame(
        [(None, "just the text",)], "extended_tweet struct<full_text string>, text string"
    )
    out2 = TT.fix_streaming_tweet(df2).collect()
    assert out2[0]["full_text"] == "just the text"


def test_sources_hash_non_ascii_matches_sqlite_utils(spark):
    """ADVICE r1 (low): ids must match sqlite_utils.hash_record exactly,
    including json.dumps' ensure_ascii \\uXXXX escaping of non-ASCII
    client names (and astral chars → surrogate pairs)."""
    from twitter_to_sqlite_spark.transforms.tweets import extract_sources

    name = "Tweetbot für Mac 🚀"
    url = "https://example.com/tweetbot"
    df = spark.createDataFrame(
        [(1, f'<a href="{url}" rel="nofollow">{name}</a>')],
        "id long, source string",
    )
    sources, facts = extract_sources(df)
    got = sources.collect()[0]
    expected = hashlib.sha1(
        json.dumps(
            {"name": name, "url": url},
            separators=(",", ":"), sort_keys=True, default=repr,
        ).encode("utf8")
    ).hexdigest()
    assert got["id"] == expected and got["name"] == name
    assert facts.collect()[0]["source"] == expected


def test_chunk_parse_parity_single_partition_and_no_python_eval(spark):
    """The driver-chunk parse (Arrow LocalRelation + from_json) yields
    exactly the rows of the file reader over the same schema, as one
    partition, and no save_tweets output plans a Python evaluator."""
    from twitter_to_sqlite_spark import commands as C

    with open(FIXTURE) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    got = C.tweets_dataframe(spark, rows)
    want = spark.read.schema(schemas.tweet_schema()).json(FIXTURE)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(got.collect(), key=lambda r: r["id"]) == sorted(
        want.collect(), key=lambda r: r["id"])

    assert got.rdd.getNumPartitions() == 1
    partitioning = got._jdf.queryExecution().executedPlan().outputPartitioning()
    assert partitioning.toString() == "SinglePartition"

    for name, df in TT.save_tweets(got).items():
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        assert "ArrowEvalPython" not in plan, name
        assert "BatchEvalPython" not in plan, name
