"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from a seed:
API-shaped timeline pages served through an injected ``fetch``,
line-JSON stream files, and the lake tables (a TPC-H-like star schema
plus events, documents and embeddings) that the catalog queries read.
The generator also keeps the ground truth the correctness checks
compare the program's tables against. Every traffic dimension is a
field of ``Traffic``; ``BENCHMARK.json`` records the values each
workload uses.
"""

from __future__ import annotations

import bisect
import calendar
import json
import os
import random
import re
import time
from dataclasses import dataclass

import numpy as np

USER_TIMELINE_URL = "https://api.twitter.com/1.1/statuses/user_timeline.json"

# Fixed reference clock: created_at values are spread backwards from
# here, so the same seed gives byte-identical payloads on every run.
NOW_EPOCH = calendar.timegm((2026, 1, 15, 12, 0, 0))

_DAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec")

# Tweet vocabulary. SEARCH_TERMS never occur in screen names, URLs or
# source names, so a tweet matches one exactly when its text holds it.
WORDS = ("river", "harbor", "trail", "summit", "valley", "forest", "meadow",
         "canyon", "glacier", "island", "reef", "tide", "storm", "sunrise",
         "lantern", "market", "bridge", "garden", "orchard", "festival",
         "concert", "museum", "library", "station", "ferry", "bicycle",
         "coffee", "bakery", "kakapo", "heron", "otter", "falcon")
SEARCH_TERMS = ("kakapo", "glacier", "ferry", "orchard", "falcon", "lantern")

CLIENTS = (("Example Web", "https://web.example.com"),
           ("Example Mobile", "https://mobile.example.com"),
           ("Example Tablet", "https://tablet.example.com"),
           ("Scheduler Pro", "https://scheduler.example.com"),
           ("Photo Share", "https://photos.example.com"),
           ("Desk Client", "https://desk.example.com"),
           ("News Bot", "https://newsbot.example.com"),
           ("Café App", "https://cafe.example.com"))

# Catalog corpus vocabulary: the documents table is word soup over the
# terms the catalog's text queries search for.
DOC_WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch")


@dataclass(frozen=True)
class Traffic:
    """One workload's traffic dimensions."""

    seed: int
    users: int = 400               # distinct accounts in the world
    zipf_s: float = 1.1            # account popularity exponent
    rotation: int = 12             # accounts the sync loop cycles through
    backlog: int = 60              # timeline size before an account's first sync
    tweets_per_sync: tuple[int, int] = (20, 60)   # new tweets per sync (min, max)
    nested_share: float = 0.3      # retweets + quotes among timeline tweets
    redeliver_share: float = 0.2   # tweets re-delivered with changed counts
    media_share: float = 0.1
    place_share: float = 0.05
    day_spread: int = 14           # created_at days back from NOW_EPOCH
    recent_bias: float = 0.3       # geometric p of the day offset (recent favoured)
    stream_file_tweets: int = 20   # tweets per stream file
    stream_redeliver: float = 0.3  # stream tweets that repeat an earlier one


def twitter_time(epoch: int) -> str:
    """'Wed Sep 04 13:51:55 +0000 2019' without touching the locale."""
    t = time.gmtime(epoch)
    return (f"{_DAYS[t.tm_wday]} {_MONTHS[t.tm_mon - 1]} {t.tm_mday:02d} "
            f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d} +0000 {t.tm_year}")


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class TweetWorld:
    """Accounts, their timelines and the expected database state.

    ``publish(user)`` makes the tweets an account posted since its last
    sync; the benchmark then runs the program's sync, which pulls them
    through ``fetch``. The expectation fields
    mirror what a correct sync leaves in each table.
    """

    def __init__(self, traffic: Traffic):
        self.t = traffic
        self.rng = random.Random(traffic.seed)
        np_rng = np.random.default_rng(traffic.seed)
        self.popularity = _zipf_weights(traffic.users, traffic.zipf_s)
        order = np_rng.permutation(traffic.users)
        self.user_ids = [100_000 + int(i) for i in order]
        self.users = {uid: self._new_user(uid) for uid in self.user_ids}
        self.rotation = self._pick_rotation()
        self.places = [self._new_place(i) for i in range(40)]
        self.client_weights = list(_zipf_weights(len(CLIENTS), 1.2))
        self.next_id = 1_500_000_000_000_000_000
        self.next_media = 9_000_000_000
        self.timelines: dict[int, list[int]] = {}   # ascending top-level ids
        self.payloads: dict[int, dict] = {}          # id -> top-level payload
        self.redeliverable: list[dict] = []          # stored plain originals
        # expectations
        self.exp_tweets: dict[int, tuple[int, int]] = {}
        self.exp_tweet_text: dict[int, str] = {}
        self.exp_tweet_user: dict[int, int] = {}
        self.exp_tweet_source: dict[int, str] = {}
        self.exp_users: set[int] = set()
        self.exp_places: set[str] = set()
        self.exp_sources: set[tuple[str, str]] = set()
        self.exp_media: set[int] = set()
        self.exp_media_tweets: set[tuple[int, int]] = set()
        self.exp_since: dict[int, int] = {}
        self.exp_count_history: list[tuple[int, int, int]] = []
        self._last_counts: dict[tuple[int, int], int] = {}
        self.syncs = 0

    # ----------------------------------------------------- entities
    def _new_user(self, uid: int) -> dict:
        r = self.rng
        desc_url = r.random() < 0.3
        desc = "Maps &amp; notes on " + " ".join(r.sample(WORDS[:10], 2))
        ents = {"url": {"urls": []}, "description": {"urls": []}}
        if desc_url:
            desc += f" https://t.co/d{uid}"
            ents["description"]["urls"] = [{
                "url": f"https://t.co/d{uid}",
                "expanded_url": f"https://about.example.com/{uid}",
                "display_url": f"about.example.com/{uid}", "indices": [0, 1]}]
        return {
            "id": uid, "id_str": str(uid), "name": f"Account {uid}",
            "screen_name": f"acct{uid}", "location": "", "description": desc,
            "url": None, "entities": ents, "protected": False,
            "followers_count": r.randint(10, 50_000),
            "friends_count": r.randint(10, 2_000),
            "listed_count": r.randint(0, 300),
            "favourites_count": r.randint(0, 9_000),
            "statuses_count": r.randint(100, 20_000),
            "created_at": twitter_time(NOW_EPOCH - r.randint(400, 4000) * 86400),
            "time_zone": None, "geo_enabled": r.random() < 0.4,
            "verified": r.random() < 0.05, "lang": None,
            "profile_image_url_https": f"https://img.example.com/{uid}.jpg",
            "profile_banner_url": None, "default_profile": True,
            "default_profile_image": False, "following": False,
            "follow_request_sent": False, "notifications": False,
            "translator_type": "none",
        }

    def _new_place(self, i: int) -> dict:
        lon, lat = -120 + 3 * i, -40 + 2 * i
        pid = f"{0x3f8a0000 + i:08x}{i:08x}"
        return {
            "id": pid, "url": f"https://api.example.com/1.1/geo/id/{pid}.json",
            "place_type": "city", "name": f"Town {i}",
            "full_name": f"Town {i}, Region {i % 7}", "country_code": "XX",
            "country": "Exampleland", "contained_within": [],
            "bounding_box": {"type": "Polygon", "coordinates": [[
                [lon, lat], [lon, lat + 0.2], [lon + 0.2, lat + 0.2],
                [lon + 0.2, lat]]]},
            "attributes": {},
        }

    def _pick_rotation(self) -> list[int]:
        """Zipf-weighted accounts without repeats: popular accounts are
        the ones synced, as a real follow list skews to them."""
        rng = np.random.default_rng(self.t.seed + 1)
        idx = rng.choice(self.t.users, size=self.t.rotation, replace=False,
                         p=self.popularity)
        return [self.user_ids[int(i)] for i in idx]

    def _text(self, n: int) -> str:
        return " ".join(self.rng.choice(WORDS) for _ in range(n))

    def _created_at(self) -> str:
        r = self.rng
        day = 0
        while day < self.t.day_spread - 1 and r.random() > self.t.recent_bias:
            day += 1
        return twitter_time(NOW_EPOCH - day * 86400 - r.randint(0, 86399))

    def _plain_tweet(self, uid: int) -> dict:
        """A plain original (no nested status)."""
        r = self.rng
        tid = self.next_id
        self.next_id += r.randint(1, 1000)
        text = self._text(r.randint(6, 18))
        ents = {"hashtags": [], "symbols": [], "user_mentions": [], "urls": []}
        if r.random() < 0.25:
            text = text + " &amp; more"
        if r.random() < 0.3:
            short = f"https://t.co/u{tid % 10**9}"
            text = f"{text} {short}"
            ents["urls"] = [{"url": short,
                             "expanded_url": f"https://links.example.com/{tid}",
                             "display_url": "links.example.com", "indices": [0, 1]}]
        name, url = CLIENTS[r.choices(range(len(CLIENTS)),
                                      weights=self.client_weights)[0]]
        tw = {
            "id": tid, "id_str": str(tid), "created_at": self._created_at(),
            "full_text": text, "truncated": False,
            "display_text_range": [0, len(text)], "entities": ents,
            "source": f'<a href="{url}" rel="nofollow">{name}</a>',
            "in_reply_to_status_id": None, "in_reply_to_user_id": None,
            "in_reply_to_screen_name": None, "user": None,
            "geo": None, "coordinates": None, "contributors": None,
            "place": None, "is_quote_status": False,
            "quoted_status_id": None, "quoted_status_id_str": None,
            "quoted_status_permalink": None,
            "retweet_count": r.randint(0, 20), "favorite_count": r.randint(0, 50),
            "favorited": False, "retweeted": False,
            "possibly_sensitive": False, "lang": "en",
            "_uid": uid, "_client": (name, url),
        }
        if r.random() < self.t.place_share:
            tw["place"] = self.places[r.randrange(len(self.places))]
        if r.random() < self.t.media_share:
            mid = self.next_media
            self.next_media += 1
            tw["extended_entities"] = {"media": [{
                "id": mid, "id_str": str(mid), "indices": [0, 1],
                "media_url": f"http://img.example.com/m/{mid}.jpg",
                "media_url_https": f"https://img.example.com/m/{mid}.jpg",
                "url": f"https://t.co/m{mid}", "display_url": "pic.example.com",
                "expanded_url": f"https://photos.example.com/{tid}/1",
                "type": "photo",
                "sizes": {"thumb": {"w": 150, "h": 150, "resize": "crop"},
                          "large": {"w": 2048, "h": 1536, "resize": "fit"}}}]}
        return tw

    def _render(self, tw: dict) -> dict:
        """API payload: the tweet with its author's current profile."""
        out = {k: v for k, v in tw.items() if not k.startswith("_")}
        out["user"] = dict(self.users[tw["_uid"]])
        return out

    def _expect(self, tw: dict) -> None:
        tid = tw["id"]
        self.exp_tweets[tid] = (tw["retweet_count"], tw["favorite_count"])
        self.exp_tweet_text[tid] = tw["full_text"]
        self.exp_tweet_user[tid] = tw["_uid"]
        self.exp_tweet_source[tid] = tw["_client"][0]
        self.exp_users.add(tw["_uid"])
        self.exp_sources.add(tw["_client"])
        if tw.get("place"):
            self.exp_places.add(tw["place"]["id"])
        for m in (tw.get("extended_entities") or {}).get("media", []):
            self.exp_media.add(m["id"])
            self.exp_media_tweets.add((m["id"], tid))

    def _drift_counts(self, uid: int) -> None:
        u = self.users[uid]
        r = self.rng
        u["followers_count"] += r.randint(0, 3)
        if r.random() < 0.3:
            u["friends_count"] += 1
        if r.random() < 0.1:
            u["listed_count"] += 1
        u["statuses_count"] += 1

    def _record_counts(self, uids: set[int]) -> None:
        for uid in sorted(uids):
            u = self.users[uid]
            for tid, col in ((1, "followers_count"), (2, "friends_count"),
                             (3, "listed_count")):
                key = (tid, uid)
                if self._last_counts.get(key) != u[col]:
                    self._last_counts[key] = u[col]
                    self.exp_count_history.append((tid, uid, u[col]))

    # ------------------------------------------------------ timeline
    def next_user(self) -> int:
        return self.rotation[self.syncs % len(self.rotation)]

    def publish(self, uid: int) -> int:
        """Post the tweets ``uid`` made since its last sync; returns how
        many top-level tweets its next sync will fetch."""
        r = self.rng
        self.syncs += 1
        first = uid not in self.timelines
        n = self.t.backlog if first else r.randint(*self.t.tweets_per_sync)
        self._drift_counts(uid)
        seen_users = {uid}
        used: set[int] = set()
        fresh_plain: list[dict] = []
        tl = self.timelines.setdefault(uid, [])
        for _ in range(n):
            roll = r.random()
            nested = None
            if roll < self.t.redeliver_share and self.redeliverable:
                orig = self.redeliverable[r.randrange(len(self.redeliverable))]
                if orig["id"] not in used:
                    used.add(orig["id"])
                    orig["retweet_count"] += r.randint(1, 5)
                    orig["favorite_count"] += r.randint(0, 10)
                    nested = orig
            elif roll < self.t.nested_share:
                other = self.user_ids[int(np.searchsorted(
                    np.cumsum(self.popularity), r.random()))]
                nested = self._plain_tweet(other)
                fresh_plain.append(nested)
            tw = self._plain_tweet(uid)
            if nested is not None:
                seen_users.add(nested["_uid"])
                if r.random() < 2 / 3:
                    author = self.users[nested["_uid"]]["screen_name"]
                    tw["full_text"] = f"RT @{author}: {nested['full_text']}"
                    tw["_nested"] = ("retweeted_status", nested)
                else:
                    tw["is_quote_status"] = True
                    tw["quoted_status_id"] = nested["id"]
                    tw["quoted_status_id_str"] = str(nested["id"])
                    tw["_nested"] = ("quoted_status", nested)
            else:
                fresh_plain.append(tw)
            tl.append(tw["id"])
            self.payloads[tw["id"]] = tw
        # Nested payloads are frozen at publish time: the API returns
        # the nested status as it was when the sync fetched it.
        for tid in tl[-n:]:
            tw = self.payloads[tid]
            out = self._render(tw)
            out["retweeted_status"] = None
            out["quoted_status"] = None
            if "_nested" in tw:
                field, nested = tw["_nested"]
                out[field] = self._render(nested)
                self._expect(nested)
            self._expect(tw)
            self.payloads[tid] = out
        self.exp_since[uid] = tl[-1]
        self._record_counts(seen_users)
        self.redeliverable.extend(fresh_plain)
        return n

    def fetch(self, url: str, params: dict):
        """The injected HTTP client: user_timeline with since_id/max_id."""
        if url != USER_TIMELINE_URL:
            return 404, {"errors": [{"code": 34, "message": "not served"}]}
        tl = self.timelines.get(int(params["user_id"]), [])
        hi = len(tl)
        if "max_id" in params:
            hi = bisect.bisect_right(tl, int(params["max_id"]))
        lo = 0
        if "since_id" in params:
            lo = bisect.bisect_right(tl, int(params["since_id"]))
        lo = max(lo, hi - int(params.get("count", 200)))
        return 200, [self.payloads[i] for i in reversed(tl[lo:hi])]

    # -------------------------------------------------------- stream
    def stream_files(self, n_files: int) -> list[list[dict]]:
        """Line-JSON stream chunks. A re-delivery repeats an earlier
        tweet's payload verbatim, so the final tables do not depend on
        how the files fall into micro-batches; counts stay fixed for
        the same reason."""
        r = self.rng
        files: list[list[dict]] = []
        sent: list[dict] = []
        for k in range(n_files):
            rows = []
            for _ in range(self.t.stream_file_tweets):
                if sent and r.random() < self.t.stream_redeliver:
                    rows.append(sent[r.randrange(len(sent))])
                    continue
                uid = self.user_ids[int(np.searchsorted(
                    np.cumsum(self.popularity), r.random()))]
                tw = self._plain_tweet(uid)
                out = self._render(tw)
                out["retweeted_status"] = None
                out["quoted_status"] = None
                self._expect(tw)
                rows.append(out)
                sent.append(out)
            files.append(rows)
        self._record_counts(self.exp_users)
        return files


def tokens(text: str) -> list[str]:
    """The FTS tokenizer's rule: lower-case, split on non-word runs."""
    return [t for t in re.split(r"\W+", text.lower(), flags=re.ASCII) if t]


def stored_text(raw: str, tid: int) -> str:
    """full_text as the transform stores it: the t.co link expanded and
    the HTML entity decoded."""
    out = raw.replace(f"https://t.co/u{tid % 10**9}",
                      f"https://links.example.com/{tid}")
    return out.replace("&amp;", "&")


# ------------------------------------------------------------ lake tables
def write_lake(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The catalog's input tables at scale factor ``sf`` (sf=0.1 ≈ 600k
    lineitem rows), one parquet file each. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    us = np.int64(86_400_000_000)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us").astype(np.int64)
        return pa.array(base + rng.integers(0, n_days, n) * us, pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["small", "large", "hot", "cold", "red", "blue", "shiny", "plain"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "wire", "plate"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-02", 2499, n_li)})
    ev_users = np.minimum(rng.zipf(1.3, n_ev) - 1, n_cust - 1) % max(1, n_cust // 10)
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(base + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(ev_users, pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    word_idx = rng.integers(0, len(DOC_WORDS), (n_doc, 100))
    n_words = rng.integers(10, 101, n_doc)
    texts = [" ".join(DOC_WORDS[j] for j in word_idx[i, :n_words[i]])
             for i in range(n_doc)]
    for i in range(n_doc):           # 5% near-duplicates of an earlier doc
        if i > 0 and rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def write_stream_file(src_dir: str, staging_dir: str, k: int, rows: list[dict],
                      now_ms: int) -> str:
    """Drop one line-JSON file atomically: write beside the source dir,
    then rename in, so the file source never sees a partial file."""
    name = f"tweets-{k:06d}.json"
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as f:
        for row in rows:
            f.write(json.dumps(dict(row, timestamp_ms=str(now_ms))) + "\n")
    dst = os.path.join(src_dir, name)
    os.rename(tmp, dst)
    return dst
