"""Property-based invariants for the sink plans (hypothesis).

The reference has no property testing (SURVEY §5); these pin the
algebraic laws the SQLite pk-constraints gave it for free:
  upsert:    keys(result) = keys(existing) ∪ keys(incoming);
             winner = max version, incoming beats existing on ties
  ignore:    existing rows survive byte-identical; only new keys append
  exact dedup: partitions the input (Σ n_dups = N, hashes distinct)
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from twitter_to_sqlite_spark.functions import dedup
from twitter_to_sqlite_spark.operators import sinks

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),     # key
        st.text(alphabet="abc", max_size=3),       # value
        st.integers(min_value=0, max_value=9),     # version
    ),
    min_size=0, max_size=8,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string, ver long")


def _python_upsert(existing, incoming):
    """Executable spec: last-write-wins, incoming beats existing on
    version ties; within a batch the later (higher-version) row wins,
    ties within the incoming batch resolved by the plan's deterministic
    ordering (version desc) — we only assert the chosen version here
    and the value when it is unambiguous."""
    best: dict = {}
    for src, rows in ((0, existing), (1, incoming)):
        for k, v, ver in rows:
            cur = best.get(k)
            if cur is None or (ver, src) > (cur[0], cur[1]):
                best[k] = (ver, src, {v})
            elif (ver, src) == (cur[0], cur[1]):
                cur[2].add(v)
    return best


@given(existing=ROWS, incoming=ROWS)
@SETTINGS
def test_upsert_plan_lww_invariants(spark, existing, incoming):
    # dedup existing on key first (a stored table has unique pks)
    seen = {}
    for k, v, ver in existing:
        seen[k] = (k, v, ver)
    existing = list(seen.values())
    out = sinks.upsert_plan(
        _df(spark, existing), _df(spark, incoming), ["id"], "ver"
    ).collect()
    got = {r["id"]: (r["v"], r["ver"]) for r in out}
    spec = _python_upsert(existing, incoming)
    assert set(got) == set(spec)
    for k, (ver, src, values) in spec.items():
        assert got[k][1] == ver
        assert got[k][0] in values
    # no duplicate keys in output
    assert len(out) == len(got)


@given(existing=ROWS, incoming=ROWS)
@SETTINGS
def test_insert_if_absent_invariants(spark, existing, incoming):
    seen = {}
    for k, v, ver in existing:
        seen[k] = (k, v, ver)
    existing = list(seen.values())
    out = sinks.insert_if_absent_plan(
        _df(spark, existing), _df(spark, incoming), ["id"]
    ).collect()
    got = {r["id"]: (r["v"], r["ver"]) for r in out}
    # existing rows unchanged
    for k, v, ver in existing:
        assert got[k] == (v, ver)
    # keys = union; no dups
    assert set(got) == {k for k, _, _ in existing} | {k for k, _, _ in incoming}
    assert len(out) == len(got)


@given(
    texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
                   min_size=1, max_size=8)
)
@SETTINGS
def test_exact_dedup_partitions_input(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df).collect()
    assert sum(r["n_dups"] for r in out) == len(texts)
    hashes = [r["content_hash"] for r in out]
    assert len(hashes) == len(set(hashes))
    # keep_id is a real doc id of a doc with that content
    import hashlib
    for r in out:
        assert hashlib.md5(texts[r["keep_id"]].encode()).hexdigest() == r["content_hash"]


def test_hot_bucket_guard_drops_only_hot_buckets(spark):
    """VERDICT r1 #8: an adversarial hot bucket (one band value shared
    by hundreds of docs) must not detonate pair generation; pairs from
    non-hot buckets are bit-identical with and without the cap."""
    from pyspark.sql import functions as F

    # 300 identical docs (every band collides → hot buckets of 300)
    # plus 3 pairs of distinct near-dup docs in their own buckets.
    hot = [(i, "the same adversarial document text repeated") for i in range(300)]
    cold = []
    for j in range(3):
        base = 1000 + 2 * j
        text = f"unique document number {j} about a rare subject {j}"
        cold += [(base, text), (base + 1, text)]
    df = spark.createDataFrame(hot + cold, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(df, num_hashes=8, bands=2)
    capped_events = []
    capped = dedup.minhash_lsh_pairs(
        df, num_hashes=8, bands=2, max_bucket=50,
        on_oversize=capped_events.append,
    )
    cold_ids = {r[0] for r in cold}
    cold_pairs_uncapped = {
        (r["id_a"], r["id_b"]) for r in uncapped.collect()
        if r["id_a"] in cold_ids and r["id_b"] in cold_ids
    }
    capped_rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # non-hot pairs identical; hot-bucket pairs gone
    assert {p for p in capped_rows if p[0] in cold_ids} == cold_pairs_uncapped
    assert all(a in cold_ids and b in cold_ids for a, b in capped_rows)
    assert cold_pairs_uncapped == {(1000, 1001), (1002, 1003), (1004, 1005)}
    # observability callback saw the dropped buckets
    assert capped_events and capped_events[0] >= 1
    # bounded work: the capped candidate count is the cold pairs only,
    # vs ~300²/2 per band uncapped
    assert uncapped.count() > 40_000
    assert capped.count() == 3


def test_spread_respects_single_large_file(spark, tmp_path):
    """ADVICE r2: one big file that Spark already splits into many scan
    partitions must NOT be repartitioned down; a genuinely tiny file
    must still be spread up."""
    from twitter_to_sqlite_spark.functions.dedup import spread

    path = str(tmp_path / "one_file")
    spark.range(50_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try:
        # Pretend the file is "large": tiny split size → many estimated
        # scan partitions → spread leaves the scan alone.
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        assert spread(df, min_partitions=8) is df
        # Default split size → the file really is one split → spread up.
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        assert spread(df, min_partitions=8) is not df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_kmeans_centroids_corpus_smaller_than_k(spark):
    """ADVICE r2: fewer vectors than k must clamp, not IndexError."""
    from twitter_to_sqlite_spark.functions import similarity

    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_centroids(tiny, k=8, iters=1)
    assert 1 <= len(cents) <= 3
    empty = tiny.filter("vec_id < 0")
    assert similarity.kmeans_centroids(empty, k=4) == []


def test_sessionize_semantics(spark):
    from twitter_to_sqlite_spark.operators import relational as R

    rows = [
        (1, "2024-01-01 00:00:00", 1),
        (1, "2024-01-01 00:10:00", 2),   # < 30 min: same session
        (1, "2024-01-01 01:10:00", 3),   # > 30 min: new session
        (2, "2024-01-01 00:00:00", 4),   # other user: own sessions
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, event_id long") \
        .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_id")
    out = {r["event_id"]: r["session_seq"]
           for r in R.sessionize(df, "user_id", "ts", "event_id").collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_asof_join_semantics(spark):
    from twitter_to_sqlite_spark.operators import relational as R

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 200, 11), (2, 50, 12)],
        "k long, t long, id long",
    ).selectExpr("k", "timestamp_micros(t*1000000) AS ts", "id")
    right = spark.createDataFrame(
        [(1, 100, 20, "a"), (1, 150, 21, "b"), (1, 150, 22, "c"), (2, 60, 23, "d")],
        "k long, t long, id long, v string",
    ).selectExpr("k", "timestamp_micros(t*1000000) AS ts", "id", "v")
    out = {r["id"]: (r["p_id"], r["p_v"]) for r in
           R.asof_join(left, right, "k", "ts", "id", ["id", "v"], prefix="p_")
           .collect()}
    assert out[10] == (20, "a")        # equal ts counts (<=)
    assert out[11] == (22, "c")        # tie at 150 → max id wins
    assert out[12] == (None, None)     # no prior right row


def test_near_dup_components_transitive(spark):
    from twitter_to_sqlite_spark.functions import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5), (5, 6), (3, 4)],
        "id_a long, id_b long",
    )  # chain 1-2-3-4-5-6 plus pair 7-9
    out = {r["id"]: r["component"]
           for r in dedup.near_dup_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7, 9: 7}


EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=1, max_size=15,
).filter(lambda es: any(a != b for a, b in es))


@given(edges=EDGES)
@SETTINGS
def test_near_dup_components_match_union_find(spark, edges):
    """Executable spec: min-label propagation must agree with a plain
    union-find on every random edge list (self-loops allowed)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in edges:
        for n in (a, b):
            expected[n] = find(n)
    # canonical label = min node of the component
    comp_min: dict = {}
    for n, r in expected.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {n: comp_min[r] for n, r in expected.items()}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dedup.near_dup_components(pairs).collect()}
    assert got == expected


def test_pii_scrub_is_idempotent(spark):
    """Scrubbing already-scrubbed text changes nothing and counts 0 —
    the placeholders must not re-match any pattern."""
    from twitter_to_sqlite_spark.functions import text as T

    d = spark.createDataFrame(
        [(1, "a@b.io on 10.0.0.1 call +1 555-123-4567"),
         (2, "nothing sensitive")],
        "doc_id long, text string",
    )
    once = T.pii_scrub(d).withColumnRenamed("text_clean", "text")
    twice = T.pii_scrub(once.select("doc_id", "text")).collect()
    got = {r["doc_id"]: r for r in twice}
    assert got[1]["n_pii"] == 0
    assert got[1]["text_clean"] == "[EMAIL] on [IP] call [PHONE]"
    assert got[2]["n_pii"] == 0


def test_jaccard_prefix_filter_is_exact(spark):
    """PPJoin-style prefix filtering must return EXACTLY the baseline
    pair set (the prefix lemma guarantees no false negatives; the
    array_intersect verification kills false positives)."""
    from twitter_to_sqlite_spark.plans import catalog

    d = catalog._docs_with_planted_dups(spark, "/root/testdata/sf0.001")
    kw = dict(k=3, threshold=0.5, max_df=20)
    base = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", **kw).collect()))
    pref = sorted(map(tuple, dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", prefix_filter=True, **kw).collect()))
    assert base == pref
    assert len(base) > 0  # planted dups guarantee positives


def test_asof_join_null_payload_not_backfilled(spark):
    """A right row whose LATEST value for a payload column is null must
    yield that null — per-column ignorenulls would stitch a row that
    never existed from older right rows."""
    from twitter_to_sqlite_spark.operators import relational as R

    right = spark.createDataFrame(
        [(1, 100, 1, "a", "x"), (1, 150, 2, None, "y")],
        "k long, ts long, ord long, v string, w string",
    )
    left = spark.createDataFrame([(1, 200, 9)], "k long, ts long, ord long")
    out = R.asof_join(left, right, "k", "ts", "ord", ["v", "w"]).collect()
    assert len(out) == 1
    # latest right row is (ts=150): v=None, w='y' — atomically
    assert out[0]["asof_v"] is None
    assert out[0]["asof_w"] == "y"


def test_shingles_lead_form_matches_array_form(spark):
    """The window-lead shingle builder must emit EXACTLY the exploded
    shingle_array set — including the single short shingle a doc with
    fewer than k tokens produces (the oracles emit it too)."""
    d = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "two words"),          # shorter than k=3 → one short shingle
         (3, "one"),
         (4, "rep rep rep rep")],   # duplicate shingles collapse
        "doc_id long, text string",
    )
    lead_form = sorted(map(tuple, dedup.shingles(d, k=3).collect()))
    arr_form = sorted(map(tuple, (
        dedup.shingle_array(d, "doc_id", "text", 3)
        .select("id", __import__("pyspark.sql.functions", fromlist=["explode"])
                .explode("__sh").alias("shingle"))
    ).collect()))
    assert lead_form == arr_form
    assert (2, "two words") in lead_form
    assert (3, "one") in lead_form


# --- chunk_documents spec ------------------------------------------------

TEXTS = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=120),
    min_size=1, max_size=6,
)


def _python_chunks(text, size, stride):
    """Executable spec of chunk_documents for one document."""
    import re

    toks = [t for t in re.split(r"\W+", text.lower()) if t]
    if not toks:
        return []
    n = len(toks)
    n_chunks = 1 + max(0, -(-(n - size) // stride)) if n > size else 1
    out = []
    for i in range(n_chunks):
        piece = toks[i * stride: i * stride + size]
        out.append((i, len(piece), " ".join(piece)))
    return out


@given(texts=TEXTS)
@SETTINGS
def test_chunk_documents_matches_spec(spark, texts):
    from twitter_to_sqlite_spark.functions.text import chunk_documents

    size, stride = 5, 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, size=size, stride=stride).collect()
    }
    want = {
        (i, cid, n, txt)
        for i, t in enumerate(texts)
        for cid, n, txt in _python_chunks(t, size, stride)
    }
    assert got == want
    # every token appears in some chunk: total coverage (first chunk of
    # each position), and overlap is exactly size-stride for interior
    # consecutive chunks of long docs — both implied by got == want.


def test_jaccard_empty_docs_pair(spark):
    """Zero-token documents (punctuation-only text) must pair as exact
    near-dups — both emit the single '' shingle, matching
    shingle_array's greatest(n-k+1, 1) bound and the DuckDB oracles.
    The window-lead shingle rewrite silently dropped these rows."""
    df = spark.createDataFrame(
        [(1, "!!!"), (2, "???"), (3, "real words here three")],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.5
        ).collect()
    }
    assert (1, 2, 1.0) in pairs
    assert all(p[0] != 3 and p[1] != 3 for p in pairs)


GROUPED_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3_000),   # id (tie-break)
        st.sampled_from(["a", "b", "c"]),            # group
        st.integers(min_value=-5, max_value=5),      # order value (ties!)
        st.integers(min_value=1, max_value=9),       # token weight
    ),
    min_size=0, max_size=40,
    unique_by=lambda t: t[0],
)


@given(rows=GROUPED_ROWS, b=st.integers(min_value=1, max_value=5))
@SETTINGS
def test_grouped_ntile_dist_matches_window(spark, rows, b):
    """Law: the two-phase distributed grouped ntile equals
    ntile(b) OVER (PARTITION BY g ORDER BY v, id) for ANY input —
    ties, empty groups, groups smaller than b."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from twitter_to_sqlite_spark.operators import relational as R

    if not rows:
        return
    d = spark.createDataFrame(rows, "id long, g string, v long, tok long") \
        .withColumn("v", F.col("v").cast("double"))
    got = {r["id"]: r["bucket"]
           for r in R.grouped_ntile_dist(d, "g", "v", "id", b,
                                         num_ranges=3).collect()}
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
    want = {r["id"]: r["nt"]
            for r in d.withColumn("nt", F.ntile(b).over(w)).collect()}
    assert got == want


@given(rows=GROUPED_ROWS)
@SETTINGS
def test_grouped_cumsum_dist_matches_window(spark, rows):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from twitter_to_sqlite_spark.operators import relational as R

    if not rows:
        return
    d = spark.createDataFrame(rows, "id long, g string, v long, tok long") \
        .withColumn("v", F.col("v").cast("double"))
    got = {r["id"]: r["cum"]
           for r in R.grouped_cumsum_dist(d, "g", "v", "id", "tok",
                                          num_ranges=3).collect()}
    w = (Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r["id"]: r["cs"]
            for r in d.withColumn("cs", F.sum("tok").over(w)).collect()}
    assert got == want


# ------------------------------------------------- r4 operator laws


LEG_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9),   # doc_id
              st.integers(min_value=1, max_value=20)), # rank
    min_size=1, max_size=8,
    unique_by=lambda t: t[0],
)


@given(a=LEG_ROWS, b=LEG_ROWS)
@SETTINGS
def test_rrf_fuse_matches_python_spec(spark, a, b):
    """Fused score/top-k matches the executable RRF spec for any pair
    of ranked legs; leg order never matters (sum is commutative)."""
    from twitter_to_sqlite_spark.functions import similarity

    def leg(rows):
        return spark.createDataFrame(rows, "doc_id long, rank int")

    spec: dict = {}
    for rows in (a, b):
        for d, r in rows:
            spec[d] = spec.get(d, 0.0) + 1.0 / (60 + r)
    want = sorted(((round(s, 6), d) for d, s in spec.items()),
                  key=lambda t: (-t[0], t[1]))[:5]
    got = similarity.rrf_fuse([leg(a), leg(b)], "doc_id", k=5).collect()
    got_pairs = [(r["rrf_score"], r["doc_id"])
                 for r in sorted(got, key=lambda r: r["rank"])]
    assert got_pairs == want
    swapped = similarity.rrf_fuse([leg(b), leg(a)], "doc_id", k=5).collect()
    assert sorted(got_pairs) == sorted(
        (r["rrf_score"], r["doc_id"]) for r in swapped)


VALUES = st.lists(st.integers(min_value=0, max_value=200),
                  min_size=1, max_size=60)


@given(xs=VALUES, ys=VALUES)
@SETTINGS
def test_kmv_merge_law_random(spark, xs, ys):
    """sketch(A ∪ B) == sketch over the concatenation, for any inputs
    (the mergeability that lets shard sketches combine) — and below k
    the estimate is the exact distinct count."""
    from twitter_to_sqlite_spark.functions import sketch

    def df(v):
        return spark.createDataFrame([(x,) for x in v], "v long")

    k = 16
    both = sketch.kmv_distinct(df(xs + ys), ["v"], k=k).collect()[0]
    uni = sketch.kmv_distinct(
        df(list(set(xs)) + list(set(ys))), ["v"], k=k).collect()[0]
    assert both["kmv_estimate"] == uni["kmv_estimate"]
    n_distinct = len(set(xs + ys))
    if n_distinct < k:
        assert both["kmv_estimate"] == n_distinct


WEIGHTED = st.lists(
    st.tuples(st.integers(min_value=0, max_value=100),
              st.floats(min_value=0.05, max_value=1.0,
                        allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=30, unique_by=lambda t: t[0],
)


@given(rows=WEIGHTED, k=st.integers(min_value=1, max_value=10))
@SETTINGS
def test_weighted_sample_laws(spark, rows, k):
    """Output size = min(k, n); sample ⊆ input; determinism; and the
    selected set matches the executable A-ES spec."""
    import hashlib

    from twitter_to_sqlite_spark.functions import sampling

    df = spark.createDataFrame(rows, "key long, w double")
    got = sampling.weighted_sample(df, k, "w", "key").collect()
    assert len(got) == min(k, len(rows))
    keys_in = {r[0] for r in rows}
    assert {r["key"] for r in got} <= keys_in

    def u(key):
        h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
        return (h % 1_000_000 + 1.0) / 1_000_000.0

    spec = sorted(
        ((round(u(key) ** (1.0 / w), 12), key) for key, w in rows),
        key=lambda t: (-t[0], t[1]))[:k]
    assert sorted(r["key"] for r in got) == sorted(key for _, key in spec)


# ------------------------------------------------- r4b operator laws

IV_LEFT = st.lists(st.integers(min_value=0, max_value=200),
                   min_size=0, max_size=15)
IV_RIGHT = st.lists(
    st.tuples(st.integers(min_value=0, max_value=200),
              st.integers(min_value=-5, max_value=60)),
    min_size=0, max_size=10,
)


@given(ls=IV_LEFT, rs=IV_RIGHT,
       bucket=st.sampled_from([60.0, 600.0, 3600.0]))
@SETTINGS
def test_interval_join_matches_brute_force_any_bucket(spark, ls, rs,
                                                      bucket):
    """The bucketed interval join equals brute-force containment for
    EVERY bucket width — bucketing is a physical rewrite, never a
    semantic one."""
    import datetime as dt

    from twitter_to_sqlite_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)

    def ts(m):
        return base + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(i, ts(m)) for i, m in enumerate(ls)] or [(None, None)],
        "lid long, ts timestamp_ntz",
    ).filter("lid is not null")
    right = spark.createDataFrame(
        [(i, ts(s), ts(s + ln)) for i, (s, ln) in enumerate(rs)]
        or [(None, None, None)],
        "rid long, s timestamp_ntz, e timestamp_ntz",
    ).filter("rid is not null")
    got = sorted(
        (r.lid, r.rid)
        for r in R.interval_join(left, right, "ts", "s", "e",
                                 bucket_seconds=bucket).collect()
    )
    want = sorted(
        (li, ri)
        for li, m in enumerate(ls)
        for ri, (s, ln) in enumerate(rs)
        if s <= m < s + ln
    )
    assert got == want


FUNNEL_EVENTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),      # user
              st.integers(min_value=0, max_value=30),     # minute
              st.sampled_from(["view", "click", "purchase", "error"])),
    min_size=0, max_size=25,
)


@given(evs=FUNNEL_EVENTS,
       win_minutes=st.one_of(st.none(),
                             st.integers(min_value=1, max_value=12)))
@SETTINGS
def test_funnel_matches_spec_and_is_monotone(spark, evs, win_minutes):
    """funnel == the sequential conditional-min spec (s1 = min view;
    s_k = min step_k ts STRICTLY after s_{k-1}, and — windowed form —
    within the window of s_{k-1}), and step counts are nonincreasing.
    Covers both the plain automaton (win_minutes=None) and the
    windowed one (the shared funnel_fold's `within` conjunct)."""
    import datetime as dt

    from twitter_to_sqlite_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)
    steps = ["view", "click", "purchase"]
    df = spark.createDataFrame(
        [(f"u{u}", base + dt.timedelta(minutes=m), ty)
         for u, m, ty in evs] or [(None, None, None)],
        "user_id string, ts timestamp_ntz, event_type string",
    ).filter("user_id is not null")
    within_seconds = None if win_minutes is None else win_minutes * 60.0
    got = {r.step: r.users
           for r in R.funnel(df, "user_id", "ts", "event_type",
                             steps,
                             within_seconds=within_seconds).collect()}

    def spec_stage(user_evs):
        t, stage = None, 0
        for want in steps:
            cand = [m for m, ty in user_evs
                    if ty == want and (t is None or m > t)
                    and (t is None or win_minutes is None
                         or m - t <= win_minutes)]
            if not cand:
                break
            t = min(cand)
            stage += 1
        return stage

    by_user = {}
    for u, m, ty in evs:
        by_user.setdefault(f"u{u}", []).append((m, ty))
    want = {k: 0 for k in (1, 2, 3)}
    for u, uev in by_user.items():
        s = spec_stage(uev)
        for k in range(1, s + 1):
            want[k] += 1
    assert got == want
    assert got[1] >= got[2] >= got[3]


TRI_EDGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=7),
              st.integers(min_value=0, max_value=7)),
    min_size=0, max_size=20,
)


@given(edges=TRI_EDGES)
@SETTINGS
def test_triangle_count_matches_brute_force(spark, edges):
    """triangle_count == brute-force enumeration over the cleaned
    undirected graph, for any multiset of (possibly reversed,
    duplicated, self-loop) edges."""
    from itertools import combinations

    from twitter_to_sqlite_spark.functions.graph import triangle_count

    df = spark.createDataFrame(
        edges or [(None, None)], "src long, dst long"
    ).filter("src is not null")
    r = triangle_count(df).collect()[0]
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {n for e in und for n in e}
    tri = sum(
        1 for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    deg = {n: sum(1 for e in und if n in e) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (
        len(nodes), len(und), wedges, tri)


ER_NAMES = st.lists(
    st.tuples(st.sampled_from(["red", "blue", "teal", "navy"]),
              st.sampled_from(["bolt", "ring", "gear", "bolts"])),
    min_size=0, max_size=12,
)


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(names=ER_NAMES, d=st.integers(min_value=1, max_value=4))
@SETTINGS
def test_match_names_matches_blocking_spec(spark, names, d):
    """match_names == the executable spec: distinct names, pairs
    sharing first OR last token, |len diff| <= d, levenshtein <= d."""
    from pyspark.sql import functions as F

    from twitter_to_sqlite_spark.functions import entity

    full = [f"{a} {b}" for a, b in names]
    df = spark.createDataFrame(
        [(n,) for n in full] or [(None,)], "p_name string"
    ).filter("p_name is not null")
    blocks = [F.regexp_extract("name", r"^(\S+)", 1),
              F.regexp_extract("name", r"(\S+)$", 1)]
    got = sorted(
        (r.name1, r.name2, r.n1, r.n2, r.dist)
        for r in entity.match_names(df, "p_name", blocks,
                                    max_distance=d).collect()
    )
    from collections import Counter

    cnt = Counter(full)
    uniq = sorted(cnt)
    want = []
    for i, n1 in enumerate(uniq):
        for n2 in uniq[i + 1:]:
            t1, t2 = n1.split(), n2.split()
            if (t1[0] == t2[0] or t1[-1] == t2[-1]) \
                    and abs(len(n1) - len(n2)) <= d \
                    and _lev(n1, n2) <= d:
                want.append((n1, n2, cnt[n1], cnt[n2], _lev(n1, n2)))
    assert got == sorted(want)


SCD2_EVENTS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2),     # key
              st.integers(min_value=0, max_value=4)),    # attr value
    min_size=0, max_size=20,
)


@given(evs=SCD2_EVENTS)
@SETTINGS
def test_scd2_point_in_time_reconstruction(spark, evs):
    """THE SCD2 contract: joining any original event time back into
    the intervals recovers exactly that event's attribute — i.e. the
    historization is lossless point-in-time. Also: per key, intervals
    tile [first_ts, ∞) with no gaps/overlaps and exactly one
    is_current row."""
    import datetime as dt

    from twitter_to_sqlite_spark.operators import relational as R

    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"k{k}", i, base + dt.timedelta(minutes=i), f"a{v}")
        for i, (k, v) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "k string, event_id long, ts timestamp_ntz, attr string",
    ).filter("k is not null")
    hist = R.scd2_history(df, ["k"], "event_id", "ts", ["attr"]) \
        .collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(
            (r.valid_from_us, r.valid_to_us, r.attr, r.is_current))
    for k, ivs in by_key.items():
        ivs.sort(key=lambda t: t[0])
        # tiling: each interval closes exactly where the next opens
        for (f1, t1, _, _), (f2, _, _, _) in zip(ivs, ivs[1:]):
            assert t1 == f2
        assert [c for _, _, _, c in ivs].count(True) == 1
        assert ivs[-1][3] and ivs[-1][1] is None
    # point-in-time: every original event's ts falls in an interval
    # carrying that event's attr (ties at equal ts don't exist — ts is
    # minute-unique by construction)
    for kname, eid, ts, attr in rows:
        us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()
                 * 1_000_000)
        hit = [a for f, t, a, _ in by_key[kname]
               if f <= us and (t is None or us < t)]
        assert hit == [attr]


EWMA_VALS = st.lists(
    st.floats(min_value=-100, max_value=100,
              allow_nan=False, allow_infinity=False),
    min_size=0, max_size=12,
)


@given(vals=EWMA_VALS)
@SETTINGS
def test_ewma_matches_python_fold(spark, vals):
    """ewma == the Python recurrence folded over the trailing window,
    for any values — and the fold is exactly α-weighted truncated
    smoothing (window 4 here so truncation is exercised)."""
    from twitter_to_sqlite_spark.operators import relational as R

    rows = [("u", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows or [(None, None, None)],
        "k string, o long, value double",
    ).filter("k is not null")
    got = {r.o: r.ewma
           for r in R.ewma(df, "k", "o", "value",
                           alpha=0.25, window=4).collect()}
    from decimal import ROUND_HALF_UP, Decimal

    for i in range(len(vals)):
        acc = 0.0
        for x in vals[max(0, i - 3):i + 1]:
            acc = acc * 0.75 + 0.25 * x
        # Spark F.round is HALF_UP; Python round() is half-even —
        # quantize the spec the way the engine rounds
        want = float(Decimal(repr(acc)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))
        assert got[i] == pytest.approx(want, abs=1e-9)


CDC_TABLE = st.lists(
    st.tuples(st.integers(min_value=0, max_value=6),   # key
              st.integers(min_value=0, max_value=3)),  # value
    min_size=0, max_size=10,
)


@given(old_rows=CDC_TABLE, new_rows=CDC_TABLE)
@SETTINGS
def test_snapshot_diff_apply_inverse_law(spark, old_rows, new_rows):
    """For ARBITRARY keyed snapshots: applying diff(old, new) as a
    changelog to old reproduces new exactly, and the diff emits only
    genuinely changed keys (nothing for keys whose value is equal,
    null-safely)."""
    from twitter_to_sqlite_spark.operators import relational as R

    def snap(rows):
        dedup = {}
        for k, v in rows:
            dedup[k] = (k, f"v{v}" if v else None)  # exercise NULLs
        return list(dedup.values())

    o_rows, n_rows = snap(old_rows), snap(new_rows)
    old = spark.createDataFrame(o_rows or [(None, None)],
                                "k long, v string").filter("k is not null")
    new = spark.createDataFrame(n_rows or [(None, None)],
                                "k long, v string").filter("k is not null")
    d = R.snapshot_diff(old, new, ["k"], ["v"]).collect()
    o_map, n_map = dict(o_rows), dict(n_rows)
    for r in d:
        if r.change_type == "added":
            assert r.k in n_map and r.k not in o_map
        elif r.change_type == "removed":
            assert r.k in o_map and r.k not in n_map
        else:
            assert o_map[r.k] != n_map[r.k]
    # completeness: every differing key appears exactly once
    want = {k for k in set(o_map) | set(n_map)
            if o_map.get(k, "<absent>") != n_map.get(k, "<absent>")}
    assert {r.k for r in d} == want and len(d) == len(want)
    # inverse: diff as changelog applied to old == new
    log = spark.createDataFrame(
        [(r.k, r.new_v,
          "delete" if r.change_type == "removed" else "upsert", 1)
         for r in d] or [(None, None, None, None)],
        "k long, v string, op string, ord long",
    ).filter("k is not null")
    applied = R.apply_changelog(old, log, ["k"], "op", "ord")
    assert sorted((r.k, r.v) for r in applied.collect()) \
        == sorted(n_rows)


IVM_BASE = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),          # group
              st.one_of(st.none(),
                        st.integers(min_value=-5, max_value=5))),
    min_size=0, max_size=12,
)
# changelog ops: (group, value, +1 insert / -1 retract-from-base)
IVM_LOG = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),
              st.one_of(st.none(),
                        st.integers(min_value=-5, max_value=5)),
              st.sampled_from([1, -1])),
    min_size=0, max_size=8,
)


@given(base_rows=IVM_BASE, log=IVM_LOG)
@SETTINGS
def test_incremental_agg_merge_equals_recompute(spark, base_rows, log):
    """View-maintenance law: merging the stored (COUNT, SUM) partials
    with a weighted changelog's delta aggregate equals recomputing the
    aggregate over the maintained multiset — for ARBITRARY bases and
    logs whose retractions actually exist in the base (multiset
    discipline), including NULL values and groups that vanish."""
    from twitter_to_sqlite_spark.operators import relational as R
    import collections

    from pyspark.sql import functions as F

    base_ms = collections.Counter(base_rows)
    # keep only retractions the base can honor, so the maintained
    # multiset stays well-defined; inserts are always legal
    applied, ms = [], collections.Counter(base_ms)
    for g, v, w in log:
        if w == 1:
            ms[(g, v)] += 1
            applied.append((g, v, 1))
        elif ms[(g, v)] > 0:
            ms[(g, v)] -= 1
            applied.append((g, v, -1))

    sch = "g int, v int"
    base = spark.createDataFrame(base_rows or [(None, None)], sch) \
        .filter("g is not null")
    base_agg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_vals"),
        F.sum(F.col("v").cast("decimal(18,4)")).alias("v_sum"))
    changes = spark.createDataFrame(
        applied or [(None, None, None)], "g int, v int, w int") \
        .filter("g is not null")
    delta = R.weighted_delta_agg(changes, ["g"], "w", "v")
    got = {
        r["g"]: (r["n_rows"], r["n_vals"],
                 None if r["v_sum"] is None else float(r["v_sum"]))
        for r in R.merge_agg_delta(base_agg, delta, ["g"]).collect()
    }

    want = {}
    for (g, v), n in ms.items():
        if g is None or n <= 0:
            continue
        cnt, nv, s = want.get(g, (0, 0, 0.0))
        want[g] = (cnt + n,
                   nv + (n if v is not None else 0),
                   s + (v * n if v is not None else 0.0))
    want = {g: (c, nv, s if nv else None)
            for g, (c, nv, s) in want.items() if c > 0}
    assert got == want


BLOOM_KEYS = st.lists(st.integers(min_value=-1000, max_value=1000),
                      min_size=0, max_size=30, unique=True)


@given(dim_keys=BLOOM_KEYS, fact_keys=BLOOM_KEYS)
@SETTINGS
def test_bloom_never_false_negative_law(spark, dim_keys, fact_keys):
    """For ARBITRARY key sets (negative keys included): every fact key
    present in dim survives the probe, and the pruned join equals the
    plain join exactly."""
    from pyspark.sql import functions as F

    from twitter_to_sqlite_spark.functions import bloom

    dim = spark.createDataFrame([(k,) for k in dim_keys] or [(None,)],
                                "k bigint").filter("k is not null")
    fact = spark.createDataFrame([(k,) for k in fact_keys] or [(None,)],
                                 "k bigint").filter("k is not null")
    words = bloom.build_bloom(dim, "k", m_words=16, k=3)
    survivors = {r["k"] for r in fact.filter(
        bloom.might_contain(F.col("k"), words, k=3)).collect()}
    assert set(dim_keys) & set(fact_keys) <= survivors
    got = sorted(r["k"] for r in
                 bloom.bloom_prune_join(fact, dim, "k",
                                        m_words=16, k=3).collect())
    assert got == sorted(set(dim_keys) & set(fact_keys))


ZPTS = st.lists(st.tuples(st.integers(min_value=0, max_value=255),
                          st.integers(min_value=0, max_value=255)),
                min_size=1, max_size=20)


@given(pts=ZPTS)
@SETTINGS
def test_zvalue_interleave_law(spark, pts):
    """zvalue == the reference bit-interleave for arbitrary points,
    and deinterleaving recovers (x, y) exactly."""
    from twitter_to_sqlite_spark.operators import bucketing

    df = spark.createDataFrame(list(set(pts)), "x long, y long")
    got = df.select("x", "y",
                    bucketing.zvalue("x", "y", bits=8).alias("z")).collect()
    for r in got:
        z = 0
        for i in range(8):
            z |= ((r["x"] >> i) & 1) << (2 * i)
            z |= ((r["y"] >> i) & 1) << (2 * i + 1)
        assert r["z"] == z
        # deinterleave round-trip
        x = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r["x"], r["y"])


CONT_DOCS = st.lists(
    st.lists(st.integers(min_value=0, max_value=12),
             min_size=3, max_size=12),
    min_size=1, max_size=5)


@given(docs=CONT_DOCS, frac=st.floats(min_value=0.3, max_value=0.9))
@example(docs=[[0, 0, 0, 0]], frac=0.5)  # r6 falsifier: shingle-set tie
@SETTINGS
def test_containment_prefix_is_always_one(spark, docs, frac):
    """A doc's token-prefix excerpt (>= k tokens) is ALWAYS flagged
    with containment 1.0 against its base at any threshold <= 1 —
    the defining guarantee of the asymmetric normalization."""
    rows = []
    for i, toks in enumerate(docs):
        text = " ".join(f"w{i}t{t}" for t in toks)  # doc-unique tokens
        rows.append((i, text))
        m = max(3, int(len(toks) * frac))
        rows.append((100 + i, " ".join(f"w{i}t{t}" for t in toks[:m])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["contained_id"], r["container_id"]): r["containment"]
           for r in dedup.containment_pairs(
               df, threshold=0.99, max_df=None).collect()}
    for i, toks in enumerate(docs):
        m = max(3, int(len(toks) * frac))
        if m >= len(toks):
            continue  # excerpt == whole doc handled by equal-size tie
        # With repeated tokens the excerpt's DISTINCT shingle set can
        # equal the base doc's even when m < len(toks) (e.g. the cached
        # falsifying example docs=[[0,0,0,0]], frac=0.5: one trigram
        # either way).  containment_pairs' documented tie-break
        # (functions/dedup.py: "Equal-size identical sets report the
        # lesser id as the contained one") then orients the pair the
        # other way — accept either orientation for shingle-set ties.
        base_sh = {tuple(toks[j:j + 3]) for j in range(len(toks) - 2)}
        exc_sh = {tuple(toks[j:j + 3]) for j in range(m - 2)}
        if exc_sh == base_sh:
            assert (got.get((100 + i, i)) == 1.0
                    or got.get((i, 100 + i)) == 1.0), (i, toks, m, got)
            continue
        key = (100 + i, i)
        assert got.get(key) == 1.0, (i, toks, m, got)


# ------------------------------------------------- r5 eval metrics

SCORED = st.lists(
    st.tuples(st.integers(min_value=0, max_value=1),     # label
              st.integers(min_value=0, max_value=6)),    # score level
    min_size=2, max_size=30,
)


@given(rows=SCORED)
@SETTINGS
def test_auc_matches_pairwise_spec(spark, rows):
    """roc_auc == P(s+ > s-) + 0.5 P(s+ = s-) over ALL (pos, neg)
    pairs — the defining pairwise probability, computed brutally."""
    from twitter_to_sqlite_spark.functions import stats

    pairs = [(y, s / 6.0) for y, s in rows]
    df = spark.createDataFrame(pairs, "y int, prob double")
    got = stats.roc_auc(df).collect()[0]
    pos = [s for y, s in pairs if y == 1]
    neg = [s for y, s in pairs if y == 0]
    if not pos or not neg:
        assert got["auc"] is None
        return
    want = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg) \
        / (len(pos) * len(neg))
    assert got["auc"] == pytest.approx(want, abs=1e-6)


@given(rows=SCORED, a=st.floats(min_value=0.1, max_value=0.4),
       b=st.floats(min_value=0.0, max_value=0.3))
@SETTINGS
def test_auc_invariant_under_monotone_score_transform(spark, rows, a, b):
    """AUC is a pure function of the score RANKING: any strictly
    increasing transform (here s -> a·s + b) leaves it unchanged —
    the property that makes it comparable across calibrations."""
    from twitter_to_sqlite_spark.functions import stats

    pairs = [(y, s / 6.0) for y, s in rows]
    if not any(y == 1 for y, _ in pairs) or \
            not any(y == 0 for y, _ in pairs):
        return
    d1 = spark.createDataFrame(pairs, "y int, prob double")
    d2 = spark.createDataFrame([(y, a * s + b) for y, s in pairs],
                               "y int, prob double")
    assert stats.roc_auc(d1).collect()[0]["auc"] == \
        stats.roc_auc(d2).collect()[0]["auc"]


@given(rows=SCORED)
@SETTINGS
def test_calibration_bins_partition_the_corpus(spark, rows):
    """Bin counts partition the scored rows, and the n-weighted mean
    of pos_rate recovers the global positive rate (the law that makes
    per-bin rates a decomposition of accuracy, i.e. ECE well-posed)."""
    from twitter_to_sqlite_spark.functions import stats

    pairs = [(y, s / 6.0) for y, s in rows]
    df = spark.createDataFrame(pairs, "y int, prob double")
    got = stats.calibration_bins(df, n_bins=4).collect()
    assert sum(r["n"] for r in got) == len(pairs)
    global_rate = sum(y for y, _ in pairs) / len(pairs)
    weighted = sum(r["n"] * r["pos_rate"] for r in got) / len(pairs)
    assert weighted == pytest.approx(global_rate, abs=1e-4)


PMI_DOCS = st.lists(
    st.lists(st.integers(min_value=0, max_value=5),
             min_size=2, max_size=10),
    min_size=1, max_size=6)


@given(docs=PMI_DOCS)
@SETTINGS
def test_pmi_invariant_under_corpus_replication(spark, docs):
    """Duplicating every document doubles every count (c_ab, c_a,
    c_b, N, B), which cancels in the PMI ratio — collocation scores
    measure association strength, not corpus size."""
    from twitter_to_sqlite_spark.functions import text as T

    rows = [(" ".join(f"t{t}" for t in d),) for d in docs]
    d1 = spark.createDataFrame(rows, "text string")
    d2 = spark.createDataFrame(rows + rows, "text string")
    g1 = {(r["w1"], r["w2"]): r["pmi"] for r in
          T.pmi_collocations(d1, min_count=1, top_k=1000).collect()}
    g2 = {(r["w1"], r["w2"]): r["pmi"] for r in
          T.pmi_collocations(d2, min_count=1, top_k=1000).collect()}
    assert g1 == g2


NOV_DOCS = st.lists(
    st.lists(st.integers(min_value=0, max_value=8),
             min_size=3, max_size=10),
    min_size=1, max_size=5)


@given(new=NOV_DOCS, stored=NOV_DOCS, extra=NOV_DOCS)
@SETTINGS
def test_novelty_bounds_and_monotone_in_store(spark, new, stored, extra):
    """0 <= novelty <= 1 with exact shingle accounting, and GROWING
    the stored corpus never increases any doc's novelty (more store
    can only explain more shingles) — the law that makes novelty a
    valid shard-ordering signal as the corpus accretes."""
    from twitter_to_sqlite_spark.functions import dedup as D

    def df(docs, base):
        rows = [(base + i, " ".join(f"t{t}" for t in d))
                for i, d in enumerate(docs)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    new_df = df(new, 1000)
    s1 = df(stored, 0)
    s2 = df(stored, 0).unionByName(df(extra, 500))
    g1 = {r["doc_id"]: r for r in
          D.novelty_stats(new_df, s1, k=3).collect()}
    g2 = {r["doc_id"]: r for r in
          D.novelty_stats(new_df, s2, k=3).collect()}
    assert set(g1) == set(g2)
    for k in g1:
        assert 0.0 <= g1[k]["novelty"] <= 1.0
        assert g1[k]["n_novel"] <= g1[k]["n_shingles"]
        assert g2[k]["n_novel"] <= g1[k]["n_novel"]


JSE_KEYS = st.lists(st.integers(min_value=0, max_value=30),
                    min_size=1, max_size=40)


@given(a_keys=JSE_KEYS, b_keys=JSE_KEYS)
@SETTINGS
def test_join_size_estimate_exact_when_domain_sampled(spark, a_keys, b_keys):
    """Whenever the key domain fits in the sample (k >= |domain|),
    the 'estimate' IS the exact join size — the guarantee that makes
    the estimator safe to trust blindly at small cardinality and a
    principled extrapolation above it."""
    from twitter_to_sqlite_spark.functions import sketch

    a = spark.createDataFrame([(k,) for k in a_keys], "k long")
    b = spark.createDataFrame([(k,) for k in b_keys], "k long")
    r = sketch.join_size_estimate(a, b, "k", k=64).collect()[0]
    from collections import Counter

    ca, cb = Counter(a_keys), Counter(b_keys)
    exact = sum(ca[k] * cb[k] for k in set(ca) | set(cb))
    assert r["est_join_rows"] == exact
    assert r["d_est"] == len(set(a_keys) | set(b_keys))


@given(keys=st.lists(st.integers(min_value=0, max_value=10_000),
                     min_size=5, max_size=60, unique=True),
       n_old=st.integers(min_value=2, max_value=6),
       grow=st.integers(min_value=1, max_value=4))
@SETTINGS
def test_rendezvous_never_moves_more_than_mod_shrinks_to_zero(
        spark, keys, n_old, grow):
    """Rendezvous reshard laws on arbitrary key sets: zero moves when
    the shard count is unchanged, and every move fraction is within
    [0, 1] with rendezvous bounded by the added-shard share in
    expectation (asserted loosely: rendezvous <= mod + slack on any
    non-trivial population; exactly 0 when grow' = 0)."""
    from twitter_to_sqlite_spark.operators import bucketing

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    same = {r["strategy"]: r["n_moved"] for r in
            bucketing.shard_move_stats(df, "k", n_old, n_old).collect()}
    assert same == {"mod": 0, "rendezvous": 0}
    n_new = n_old + grow
    got = {r["strategy"]: r for r in
           bucketing.shard_move_stats(df, "k", n_old, n_new).collect()}
    for s in ("mod", "rendezvous"):
        assert 0 <= got[s]["n_moved"] <= got[s]["n_keys"]
    assert got["rendezvous"]["n_keys"] == len(keys)


# ------------------------------------------------- r7 domain caps

DC_ROWS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=6),      # domain
              st.integers(min_value=0, max_value=10_000)),  # key
    min_size=1, max_size=60, unique_by=lambda t: t[1])


@given(rows=DC_ROWS, cap=st.integers(min_value=1, max_value=8),
       slices=st.sampled_from([2, 16, 1024]))
@SETTINGS
def test_domain_caps_equals_brute_force_window(spark, rows, cap, slices):
    """The equidepth hash-slice refinement IS the naive per-domain
    row_number over (hash, key) <= cap — for any domain mix, cap, and
    slice width (the boundary/take-all split must never change the
    answer, only the plan)."""
    import hashlib

    from twitter_to_sqlite_spark.functions import sampling

    df = spark.createDataFrame(
        [(f"d{d}", k) for d, k in rows], "source string, doc_id long")
    got = {(r["source"], r["doc_id"]): r["domain_rank"]
           for r in sampling.domain_caps(
               df, "source", cap=cap, key_col="doc_id",
               slices=slices).collect()}

    def h(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)

    by_dom: dict = {}
    for d, k in rows:
        by_dom.setdefault(f"d{d}", []).append(k)
    want = {}
    for dom, keys in by_dom.items():
        keys.sort(key=lambda k: (h(k), k))
        for rank, k in enumerate(keys[:cap], start=1):
            want[(dom, k)] = rank
    assert got == want


# ---------------------------------------------------------------------
# r7 batch-2 laws
# ---------------------------------------------------------------------

SIZES = st.lists(
    st.tuples(st.integers(min_value=1, max_value=20),      # file key
              st.integers(min_value=1, max_value=1500)),   # bytes
    min_size=1, max_size=10, unique_by=lambda t: t[0],
)


@given(sizes=SIZES)
@SETTINGS
def test_compaction_plan_partitions_and_packs(spark, sizes):
    """Laws: (a) every input file appears exactly once; (b) files ≥
    target are 'keep' with NULL group, the rest 'rewrite'; (c) each
    rewrite group's group_bytes is the exact sum of its members and
    n_in_group their count; (d) group ids are non-decreasing in key
    order (greedy prefix packing never back-fills)."""
    from twitter_to_sqlite_spark.operators import bucketing

    target = 1000
    m = spark.createDataFrame(sizes, "shard long, n_bytes long")
    rows = bucketing.compaction_plan(m, "shard", "n_bytes", target).collect()
    assert sorted(r["shard"] for r in rows) == sorted(s for s, _ in sizes)
    by = {r["shard"]: r for r in rows}
    groups = {}
    for s, b in sizes:
        r = by[s]
        if b >= target:
            assert r["action"] == "keep" and r["out_group"] is None
        else:
            assert r["action"] == "rewrite"
            groups.setdefault(r["out_group"], []).append((s, b))
    for g, members in groups.items():
        tot = sum(b for _, b in members)
        for s, _ in members:
            assert by[s]["group_bytes"] == tot
            assert by[s]["n_in_group"] == len(members)
    small_sorted = sorted((s, b) for s, b in sizes if b < target)
    gseq = [by[s]["out_group"] for s, _ in small_sorted]
    assert gseq == sorted(gseq)


OPS_LOG = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),              # key
              st.sampled_from(["insert", "update", "delete"]),    # op
              st.integers(min_value=0, max_value=100)),           # payload
    min_size=0, max_size=10,
)


@given(log=OPS_LOG)
@SETTINGS
def test_changelog_compact_replay_equivalence(spark, log):
    """Replaying the COMPACTED log against any base state gives the
    same end state as replaying the full log (the compaction
    contract), for arbitrary op sequences."""
    from twitter_to_sqlite_spark.operators import relational as R

    rows = [(k, op, seq, float(p)) for seq, (k, op, p) in enumerate(log)]
    ch = spark.createDataFrame(
        rows, "k long, op string, seq int, p double") if rows else None
    if ch is None:
        return

    def replay(events, base):
        state = dict(base)
        for k, op, _, p in sorted(events, key=lambda r: r[2]):
            if op == "delete":
                state.pop(k, None)
            else:
                state[k] = p
        return state

    # CDC contract: 'insert' means the key did not exist before, so a
    # consistent base has a key pre-existing iff its FIRST op is an
    # update/delete. (An insert of a pre-existing key is a malformed
    # log — outside the operator's contract.) Key 99 is untouched.
    first_op = {}
    for k, op, _, _ in sorted(rows, key=lambda r: r[2]):
        first_op.setdefault(k, op)
    base = {k: -1.0 for k, op in first_op.items() if op != "insert"}
    base[99] = -9.0
    full_end = replay(rows, base)
    compacted = [(r["k"], r["net_op"], i, r["p"])
                 for i, r in enumerate(
                     R.changelog_compact(ch, ["k"], "op", "seq", ["p"])
                     .collect())]
    comp_end = replay(compacted, base)
    assert comp_end == full_end


# ---------------------------------------------------------------------
# r7 batch-3/4 laws
# ---------------------------------------------------------------------

@given(pairs=st.lists(
    st.tuples(st.integers(min_value=0, max_value=6),
              st.integers(min_value=0, max_value=6)),
    min_size=2, max_size=20))
@SETTINGS
def test_spearman_is_bounded_and_order_invariant(spark, pairs):
    from twitter_to_sqlite_spark.functions import stats

    df = spark.createDataFrame(pairs, "x long, y long")
    r = stats.spearman_rho(df, "x", "y").collect()[0]
    if r["rho"] is not None:
        assert -1.0 <= r["rho"] <= 1.0
        # a monotone relabeling of x (x -> 10x + 3) preserves ranks
        relabeled = spark.createDataFrame(
            [(10 * a + 3, b) for a, b in pairs], "x long, y long")
        r2 = stats.spearman_rho(relabeled, "x", "y").collect()[0]
        assert r2["rho"] == r["rho"]


@given(texts=st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=20),
    min_size=1, max_size=6))
@SETTINGS
def test_token_entropy_bounded_by_log_distinct(spark, texts):
    import math

    from twitter_to_sqlite_spark.functions.text import token_entropy

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in token_entropy(df).collect():
        assert 0.0 <= r["entropy"] <= round(
            math.log(r["n_distinct"]), 6) + 1e-9
        assert r["n_distinct"] <= r["n_words"]


@given(lens=st.lists(st.integers(min_value=0, max_value=200),
                     min_size=1, max_size=30),
       bounds=st.lists(st.integers(min_value=1, max_value=256),
                       min_size=1, max_size=4, unique=True))
@SETTINGS
def test_padding_waste_conservation_laws(spark, lens, bounds):
    from twitter_to_sqlite_spark.functions.sampling import padding_waste

    df = spark.createDataFrame([(n,) for n in lens], "n long")
    r = padding_waste(df, "n", {"s": bounds}).collect()[0]
    cap = max(bounds)
    # token conservation: total = kept + truncated, where kept is what
    # lands in slots; padded fills the rest of the slot capacity
    kept = sum(min(n, cap) for n in lens)
    slots = sum(min((b for b in sorted(bounds) if b >= n), default=cap)
                for n in lens)
    assert r["total_tokens"] == sum(lens)
    assert r["truncated_tokens"] == sum(lens) - kept
    assert r["padded_tokens"] == slots - kept
    if slots:
        assert 0.0 <= r["waste_frac"] <= 1.0


@given(rows=st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=3)),
    min_size=1, max_size=40),
    k=st.integers(min_value=2, max_value=6))
@SETTINGS
def test_group_kfold_is_a_partition_of_groups(spark, rows, k):
    from twitter_to_sqlite_spark.functions.sampling import group_kfold

    df = spark.createDataFrame(rows, "g long, x long")
    out = group_kfold(df, "g", k=k).collect()
    groups = {g for g, _ in rows}
    assert sum(r["n_groups"] for r in out) == len(groups)
    assert sum(r["n_rows"] for r in out) == len(rows)
    assert all(0 <= r["fold"] < k for r in out)


@given(tokens=st.lists(st.integers(min_value=1, max_value=10_000),
                       min_size=1, max_size=10))
@SETTINGS
def test_epoch_schedule_shares_and_budget_consistency(spark, tokens):
    from twitter_to_sqlite_spark.functions.sampling import epoch_schedule

    rows = [(f"s{i}", t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "src string, n long")
    out = epoch_schedule(df, "src", "n", budget_tokens=10_000).collect()
    # integer ppm shares sum to ≤ 10^6 (floor division) and within
    # |sources| of it (each floor loses < 1 ppm)
    total = sum(r["weight_ppm"] for r in out)
    assert 10**6 - len(out) < total <= 10**6
    assert all(r["epochs"] >= 0 for r in out)


# Text for the source-id twin: printable ASCII plus every class
# json.dumps escapes differently — C0 controls, DEL, '"', '\\', line
# terminators (including U+0085/U+2028/U+2029), BMP non-ASCII and
# astral characters (surrogate pairs in UTF-16). Lone surrogates are
# excluded: they cannot cross into the JVM as UTF-8.
SOURCE_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        st.characters(max_codepoint=0x1F),
        st.sampled_from(['\x7f', '"', '\\', '\n', '\r', '\x85',
                         '\u2028', '\u2029']),
        st.characters(min_codepoint=0x80, max_codepoint=0xFFFF,
                      exclude_categories=("Cs",)),
        st.characters(min_codepoint=0x10000),
    ),
    max_size=10,
)


@SETTINGS
@given(pairs=st.lists(st.tuples(SOURCE_TEXT, SOURCE_TEXT), min_size=1,
                      max_size=6))
@example(pairs=[("", ""), ("", "x"), ("\t\b\f", '"\\/'),
                ("\x00\x1f\x7f", "\U0001F680 f\u00fcr \u2028")])
def test_source_id_matches_sqlite_utils_hash_record(spark, pairs):
    """The JVM source-id expression is byte-identical to
    sqlite_utils.hash_record over {"name", "url"}. Applied straight to
    name/url columns: the anchor regex of extract_sources cannot match
    line terminators, so going through it would hide those cases."""
    import hashlib
    import json

    from pyspark.sql import functions as F

    from twitter_to_sqlite_spark.session import local_frame
    from twitter_to_sqlite_spark.transforms.tweets import source_id

    df = local_frame(spark, pairs, "name string, url string")
    got = [r["id"] for r in
           df.select(source_id(F.col("name"), F.col("url")).alias("id"))
           .collect()]
    want = [
        hashlib.sha1(json.dumps({"name": n, "url": u}, separators=(",", ":"),
                                sort_keys=True).encode("utf8")).hexdigest()
        for n, u in pairs
    ]
    assert got == want
