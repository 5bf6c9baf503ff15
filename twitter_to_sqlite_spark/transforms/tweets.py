"""Tweet/user normalization pipeline (SURVEY §2.3 P1-P7).

The reference normalizes one dict at a time (transform_tweet,
utils.py:299-310; save_tweets, utils.py:411-447). Here the same
semantics are column expressions over the nested tweet struct, so one
scan normalizes a whole batch inside whole-stage codegen:

  P1 expand_entities      t.co URL → expanded_url in text
  P2 transform_tweet      P1 + HTML unescape + ISO timestamp + drops
  P3 transform_user       P1 on description/url + drops
  P4 extract_sources      source HTML → hash-keyed dim + FK rewrite
  P5 flatten nested       retweeted/quoted structs → own rows + FK
  P6 extract users/places dims from nested structs
  P7 fix_streaming_tweet  extended_tweet.full_text coalesce

`save_tweets(df)` orchestrates P2-P6 and returns every output table
from one input scan — the set-oriented equivalent of the reference's
per-tweet loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Twitter created_at format: 'Wed Sep 04 13:51:55 +0000 2019'.
# Spark's parser accepts day-of-week ('E') only when formatting, so we
# drop the fixed-width weekday prefix before parsing.
TWITTER_TS_FMT = "MMM dd HH:mm:ss Z yyyy"

# Anchor-tag pattern of the source field (reference regex utils.py:35).
SOURCE_RE = r'<a href="(.*?)".*?>(.*?)</a>'

# The *_str duplicates and permalink fields the reference drops
# (transform_tweet utils.py:303-309).
TWEET_DROP_COLS = (
    "id_str",
    "quoted_status_id",
    "quoted_status_id_str",
    "quoted_status_permalink",
)
USER_DROP_COLS = ("id_str", "entities", "status")


def html_unescape(col: Column) -> Column:
    """Inverse of HTML entity escaping for the five standard entities
    (the reference calls html.unescape, utils.py:301; tweet text only
    ever contains these five in practice). &amp; last so '&amp;lt;'
    decodes to '&lt;' exactly like html.unescape."""
    out = F.regexp_replace(col, "&lt;", "<")
    out = F.regexp_replace(out, "&gt;", ">")
    out = F.regexp_replace(out, "&quot;", '"')
    out = F.regexp_replace(out, "&#39;", "'")
    out = F.regexp_replace(out, "&amp;", "&")
    return out


def expand_entities(text: Column, url_entities: Column) -> Column:
    """P1 (expand_entities, utils.py:275-281): replace each entity's
    t.co `url` in the text with `expanded_url` (falling back to the
    original when expanded_url is null).

    A left fold over the entity array — F.aggregate keeps it JVM-side;
    the reference's dict loop becomes one codegen'd expression.
    """
    ents = F.coalesce(url_entities, F.array())
    return F.aggregate(
        ents,
        text,
        lambda acc, e: F.replace(
            acc, e["url"], F.coalesce(e["expanded_url"], e["url"])
        ),
    )


def iso_timestamp(created_at: Column) -> Column:
    """P11: Twitter's 'EEE MMM dd HH:mm:ss Z yyyy' → ISO-8601 string
    (the reference stores isoformat text, utils.py:310)."""
    return F.date_format(
        F.to_timestamp(F.substring(created_at, 5, 26), TWITTER_TS_FMT),
        "yyyy-MM-dd'T'HH:mm:ssxxx",
    )


def transform_tweet(df: DataFrame) -> DataFrame:
    """P2 (transform_tweet, utils.py:299-310): entity-expand + unescape
    full_text, ISO created_at, drop *_str/permalink duplicates.

    Expects tweet-struct columns at the top level (post-flattening).
    """
    out = df.withColumns({
        "full_text": html_unescape(
            expand_entities(F.col("full_text"), F.col("entities.urls"))),
        "created_at": iso_timestamp(F.col("created_at")),
    })
    drops = [c for c in TWEET_DROP_COLS if c in out.columns]
    return out.drop(*drops)


def transform_user(df: DataFrame) -> DataFrame:
    """P3 (transform_user, utils.py:284-296): expand description/url
    via entities.*.urls, ISO created_at, drop entities/status/id_str."""
    out = df.withColumns({
        "description": expand_entities(
            F.col("description"), F.col("entities.description.urls")),
        "url": expand_entities(F.col("url"), F.col("entities.url.urls")),
        "created_at": iso_timestamp(F.col("created_at")),
    })
    drops = [c for c in USER_DROP_COLS if c in out.columns]
    return out.drop(*drops)


# json.dumps' two-character escapes, keyed by UTF-16 code unit.
_JSON_SHORT_ESCAPES = {
    0x22: '\\"', 0x5C: "\\\\", 0x0A: "\\n", 0x0D: "\\r",
    0x09: "\\t", 0x08: "\\b", 0x0C: "\\f",
}


def json_string_ascii(s: Column) -> Column:
    """``json.dumps(s)`` (default ``ensure_ascii=True``) as a Column:
    the quoted JSON string literal with every non-printable-ASCII
    character escaped exactly as Python escapes it.

    Spark's to_json keeps non-ASCII raw, so this walks the UTF-16 code
    units instead: ``hex(encode(s, 'UTF-16BE'))`` cut into 4-hex-digit
    units, then per unit printable ASCII is kept, the seven short
    escapes apply, and everything else becomes ``\\uxxxx`` (lowercase
    hex). Astral characters are two units in UTF-16, so they come out
    as the surrogate pair json.dumps writes. The empty string walks an
    empty array; null is JSON ``null``.
    """
    units = F.regexp_extract_all(
        F.hex(F.encode(s, "UTF-16BE")), F.lit("([0-9A-F]{4})"), 1)

    def escape(unit: Column) -> Column:
        code = F.conv(unit, 16, 10).cast("int")
        out = F.when(
            (code >= 0x20) & (code < 0x7F), F.char(code)
        ).otherwise(F.concat(F.lit("\\u"), F.lower(unit)))
        for c, esc in _JSON_SHORT_ESCAPES.items():
            out = F.when(code == c, F.lit(esc)).otherwise(out)
        return out

    body = F.array_join(F.transform(units, escape), "")
    return F.when(s.isNull(), F.lit("null")).otherwise(
        F.concat(F.lit('"'), body, F.lit('"')))


def source_id(name: Column, url: Column) -> Column:
    """Exact ``sqlite_utils.hash_record`` twin for a source row: sha1
    of ``json.dumps({"name": name, "url": url}, separators=(",", ":"),
    sort_keys=True)`` — byte-identical ids, including the ensure_ascii
    escaping of non-ASCII client names (see json_string_ascii). Pure
    Column expression: runs inside the JVM plan, no Python worker."""
    payload = F.concat(
        F.lit('{"name":'), json_string_ascii(name),
        F.lit(',"url":'), json_string_ascii(url), F.lit("}"),
    )
    return F.sha1(F.encode(payload, "UTF-8"))


def extract_sources(tweets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P4 (extract_and_save_source, utils.py:668-673): parse the source
    anchor tag into a {url,name} dimension keyed by sha1 of the
    canonical row JSON (sqlite_utils hash_id semantics, including
    ensure_ascii escaping — see source_id), and rewrite the fact
    column to that key.

    Returns (sources_dim, tweets_with_fk). Broadcast-sized dim at any
    scale (distinct clients are few); the id is a Column expression
    over the distinct (name, url) pairs and the fact rewrite a
    broadcast join on that pair, so the whole step stays in the JVM.
    """
    parsed = tweets.withColumns({
        "__sname": F.regexp_extract(F.col("source"), SOURCE_RE, 2),
        "__surl": F.regexp_extract(F.col("source"), SOURCE_RE, 1),
    })
    dim = (
        parsed.filter(F.col("source").isNotNull())
        .select("__sname", "__surl")
        .dropDuplicates()
        .withColumn("__source_id", source_id(F.col("__sname"), F.col("__surl")))
    )
    sources = dim.select(
        F.col("__source_id").alias("id"),
        F.col("__sname").alias("name"),
        F.col("__surl").alias("url"),
    )
    facts = (
        parsed.join(F.broadcast(dim), ["__sname", "__surl"], "left")
        .withColumn(
            "source",
            F.when(F.col("source").isNotNull(), F.col("__source_id")),
        )
        .drop("__sname", "__surl", "__source_id")
    )
    return sources, facts


def fix_streaming_tweet(df: DataFrame) -> DataFrame:
    """P7 (fix_streaming_tweet, utils.py:636-644): streaming payloads
    truncate `text` and park the full text under extended_tweet;
    coalesce it back into full_text."""
    cols = set(df.columns)
    full = F.coalesce(
        F.col("extended_tweet.full_text") if "extended_tweet" in cols else F.lit(None),
        F.col("full_text") if "full_text" in cols else F.lit(None),
        F.col("text") if "text" in cols else F.lit(None),
    )
    out = df.withColumn("full_text", full)
    return out.drop(*[c for c in ("extended_tweet", "text", "timestamp_ms") if c in cols])


def _level1_statuses(raw: DataFrame, field: str) -> DataFrame:
    """Project a nested status struct (retweeted_status/quoted_status)
    to top-level tweet rows (P5, save_tweets recursion utils.py:424-431)."""
    return (
        raw.filter(F.col(field).isNotNull())
        .select(F.col(field + ".*"))
    )


def save_tweets(raw: DataFrame) -> dict[str, DataFrame]:
    """The full save_tweets pipeline (utils.py:411-447) as one
    multi-output plan over a batch of raw API tweets.

    Returns {tweets, users, places, sources, media, media_tweets}.
    Nested retweeted/quoted statuses become their own tweet rows
    (union), with the parent keeping only the FK — the reference's
    recursion unrolled to the API's actual one level.

    Scale: one scan of the input; dims dedup with partial aggs; the
    union'd tweet set dedups on id keeping the top-level observation
    (richest payload) over the nested one.
    """
    nested_cols = ["retweeted_status", "quoted_status"]
    # 1. Parent rows: keep FK ids of nested statuses.
    parents = raw.withColumns(
        {c: F.col(c + ".id") for c in nested_cols} | {"__depth": F.lit(0)})

    # 2. Nested rows, promoted to top level (they lack nested fields
    #    themselves — API nests one deep).
    promoted = None
    for c in nested_cols:
        p = _level1_statuses(raw, c).withColumns(
            {cc: F.lit(None).cast("long") for cc in nested_cols}
            | {"__depth": F.lit(1)})
        promoted = p if promoted is None else promoted.unionByName(p)

    all_tweets = parents.unionByName(promoted, allowMissingColumns=True)

    # 3. users dim from every tweet row (nested included), last write
    #    wins preferring top-level depth.
    users_raw = all_tweets.select(F.col("user.*"), F.col("__depth"))
    from pyspark.sql import Window

    uw = Window.partitionBy("id").orderBy(F.col("__depth").asc())
    users = (
        transform_user(users_raw)
        .withColumn("__rn", F.row_number().over(uw))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__depth")
    )

    # 4. places dim (reply tweets carry place structs).
    places = (
        all_tweets.filter(F.col("place").isNotNull())
        .select(F.col("place.*"))
        .dropDuplicates(["id"])
    )

    # 5. media dim + m2m bridge (utils.py:442-446).
    media_rows = all_tweets.select(
        F.col("id").alias("tweets_id"),
        F.explode_outer(F.col("extended_entities.media")).alias("m"),
    ).filter(F.col("m").isNotNull())
    media = media_rows.select(F.col("m.*")).dropDuplicates(["id"])
    media_tweets = media_rows.select(
        F.col("m.id").alias("media_id"), F.col("tweets_id")
    ).dropDuplicates()

    # 6. fact table: normalize, extract source dim, rewrite FKs.
    tw = Window.partitionBy("id").orderBy(F.col("__depth").asc())
    facts = (
        all_tweets.withColumns({
            "user": F.col("user.id"),
            "place": F.col("place.id"),
            "__rn": F.row_number().over(tw),
        })
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__depth", "extended_entities")
    )
    facts = transform_tweet(facts)
    sources, facts = extract_sources(facts)
    facts = facts.drop("entities")

    return {
        "tweets": facts,
        "users": users,
        "places": places,
        "sources": sources,
        "media": media,
        "media_tweets": media_tweets,
    }
