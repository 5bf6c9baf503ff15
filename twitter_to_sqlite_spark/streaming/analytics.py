"""Streaming analytics extensions (SURVEY §2.10 notes the reference has
no windowed aggregation — these are the Spark-native extensions a
100 TB stream deployment adds on top of the capture path).

  tweets_per_window        tumbling-window counts with a watermark for
                           late data (the canonical tweets-per-minute)
  stream_dedup             watermarked within-stream dedup by pk
  user_sessions            gap-based session_window sessionization
                           (streaming twin of the batch sessionize)
  running_user_counts      custom stateful operator via
                           applyInPandasWithState: per-user running
                           tweet count + last-seen id, state kept by
                           Spark's state store across micro-batches
  trending_terms           sliding-window term frequencies (the
                           trending-topics primitive); append-mode
                           safe, bounded state
  topk_per_window          batch finisher ranking each CLOSED window's
                           terms (rank needs the window complete —
                           exactly what append-after-watermark emits)
  funnel_stages            stateful per-user funnel automaton (twin of
                           the batch relational.funnel): stage + last
                           step time in the state store, update mode
  zscore_stream            stateful per-key trailing z-score (twin of
                           the batch relational.trailing_zscore): a
                           ring buffer of the last W values in the
                           state store, each event scored BEFORE its
                           value is appended (leakage-free)
  drift_monitor            foreachBatch maintenance of the current
                           score histogram (twin of the batch
                           psi_drift query); psi_vs_baseline prices
                           the drift from the <= n_bins-row tables
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def with_event_time(stream: DataFrame, created_col: str = "created_at") -> DataFrame:
    """Parse Twitter timestamps into a proper event-time column."""
    return stream.withColumn(
        "event_ts",
        F.to_timestamp(F.substring(F.col(created_col), 5, 26), "MMM dd HH:mm:ss Z yyyy"),
    )


def tweets_per_window(stream: DataFrame, window: str = "1 minute",
                      watermark: str = "2 minutes") -> DataFrame:
    """Tumbling-window tweet counts per language with late-data
    handling: events later than `watermark` behind the max seen
    event-time are dropped and state for closed windows is purged —
    bounded state at any throughput."""
    return (
        with_event_time(stream)
        .withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n",
        )
    )


def stream_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Within-stream dedup by tweet id with bounded state:
    dropDuplicatesWithinWatermark keeps ids only as long as a duplicate
    could still arrive. Downstream pk-upserts stay idempotent anyway;
    this trims redundant sink work."""
    return (
        with_event_time(stream)
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["id"])
    )


def user_sessions(stream: DataFrame, gap: str = "30 minutes",
                  watermark: str = "1 hour") -> DataFrame:
    """Streaming sessionization: per-user gap-based sessions via
    ``session_window`` — the streaming twin of the batch ``sessionize``
    operator (operators/relational.py), with the session boundary
    maintained by the state store instead of a lag window.

    A session closes when no event arrives for `gap`; the watermark
    bounds state (a session older than watermark+gap can never extend,
    so Spark emits and purges it). Output: one row per closed session
    with its span and tweet count.

    Scale: state is hash-partitioned by user_id; per-key state is one
    open session (start, end, count) — O(active users), not O(events).
    """
    return (
        with_event_time(stream)
        .withWatermark("event_ts", watermark)
        .groupBy(
            F.session_window("event_ts", gap).alias("s"),
            F.col("user.id").alias("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_tweets"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_tweets",
        )
    )


RUNNING_COUNTS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_tweets", T.LongType()),
    T.StructField("last_id", T.LongType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("last_id", T.LongType()),
])


def _update_running_counts(key: tuple, pdfs: Iterator[pd.DataFrame],
                           state: GroupState) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update function: fold each micro-batch's
    rows for this user into (count, max id) state."""
    (user_id,) = key
    n, last_id = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            last_id = max(last_id, int(pdf["id"].max()))
    state.update((n, last_id))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_tweets": [n], "last_id": [last_id]}
    )


def running_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running tweet count + last
    tweet id, maintained in the state store across micro-batches
    (the streaming analogue of the count_history bookkeeping).

    Scale: state is partitioned by user_id; Arrow batches in/out; use
    GroupStateTimeout to expire idle users in a production deployment.
    """
    return (
        stream.select(F.col("user.id").alias("user_id"), F.col("id"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_running_counts,
            outputStructType=RUNNING_COUNTS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def trending_terms(stream: DataFrame, window: str = "5 minutes",
                   slide: str | None = None,
                   watermark: str = "10 minutes") -> DataFrame:
    """Windowed term frequencies over the tweet text — the
    trending-topics primitive. Emits (window, term, n) rows as windows
    close (append mode): watermark-bounded state, no unbounded top-k
    kept in flight.

    Ranking deliberately does NOT happen here: a per-window rank is
    only meaningful once the window is COMPLETE, which is exactly what
    append-after-watermark emits — run ``topk_per_window`` over the
    sink table (or inside foreachBatch on the finalized rows).

    Scale: explode fans each tweet out to its terms before the
    windowed count, so the shuffle key is (window, term) — high
    entropy, skew-bounded by term frequency; partial aggregation
    combines map-side. A hot term costs one reducer key per window,
    never a hot partition of tweets.
    """
    terms = (
        with_event_time(stream)
        .withWatermark("event_ts", watermark)
        .select(
            "event_ts",
            F.explode(
                F.filter(
                    F.split(
                        # P7 convention (capture.track_filter): the
                        # streaming API truncates `text` and ships the
                        # full body in extended_tweet.full_text — term
                        # counts must see the whole tweet.
                        F.lower(F.coalesce(
                            F.col("extended_tweet.full_text"),
                            F.col("full_text"),
                            F.col("text"),
                        )),
                        r"\W+",
                    ),
                    lambda t: t != "",
                )
            ).alias("term"),
        )
    )
    win = (
        F.window("event_ts", window, slide)
        if slide
        else F.window("event_ts", window)
    )
    return (
        terms.groupBy(win.alias("w"), "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "term",
            "n",
        )
    )


def topk_per_window(windowed_counts: DataFrame, k: int = 10) -> DataFrame:
    """Rank each closed window's terms: one window-partitioned
    exchange (never a global sort), ties broken by term for
    determinism. Runs as a batch over the trending_terms sink."""
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("term").asc()
    )
    return (
        windowed_counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


_FUNNEL_STATE_SCHEMA = T.StructType([
    T.StructField("stage", T.IntegerType()),
    T.StructField("t_us", T.LongType()),
])


def funnel_stages(stream: DataFrame, steps: list[str],
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  within_seconds: float | None = None) -> DataFrame:
    """Streaming twin of the batch ``relational.funnel`` automaton:
    per-user funnel stage maintained in the state store across
    micro-batches (update mode) — real-time conversion tracking.

    Each micro-batch's rows for a user are sorted by event time and
    folded through the SAME (stage, last_ts) automaton as the batch
    operator: advance to stage k+1 on the first ``steps[k]`` event
    strictly later than the stage-k timestamp. State is two scalars
    per user — bounded regardless of event volume.

    Semantics note: in-order delivery is assumed PER USER ACROSS
    micro-batches (within a batch the fold sorts). An event arriving
    in a later batch with an earlier timestamp cannot retro-advance a
    stage the automaton already passed — the standard at-arrival
    semantics of streaming funnels; replays/backfills get the exact
    answer from the batch operator, which both paths' shared automaton
    (and the batch/stream agreement test) keeps aligned.

    ``within_seconds`` mirrors the batch windowed funnel: an advance
    past stage 1 also requires the event to land within that many
    seconds of the previous step — same gap conjunct as
    relational.funnel_fold's ``within``.
    """
    user_type = stream.schema[user_col].dataType
    n = len(steps)
    within_us = (None if within_seconds is None
                 else int(within_seconds * 1_000_000))
    out_schema = T.StructType([
        T.StructField(user_col, user_type),
        T.StructField("stage", T.IntegerType()),
        T.StructField("stage_ts_us", T.LongType()),
    ])

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (uid,) = key
        stage, t_us = state.get if state.exists else (0, 0)
        # Concatenate before sorting: a user's micro-batch group can
        # arrive as multiple Arrow chunks; the automaton must fold in
        # global event-time order, not chunk-local order.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(ts_col)
        for ts, ty in zip(pdf[ts_col], pdf[type_col]):
            us = int(pd.Timestamp(ts).value // 1_000)
            if (stage < n and ty == steps[stage]
                    and (stage == 0 or us > t_us)
                    and (stage == 0 or within_us is None
                         or us - t_us <= within_us)):
                stage += 1
                t_us = us
        state.update((stage, t_us))
        yield pd.DataFrame(
            {user_col: [uid], "stage": [stage], "stage_ts_us": [t_us]}
        )

    return (
        stream.select(user_col, ts_col, type_col)
        .filter(F.col(user_col).isNotNull()
                & F.col(type_col).isin(steps))
        .groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_ZSCORE_STATE_SCHEMA = T.StructType([
    T.StructField("vals", T.ArrayType(T.DoubleType())),
])


def zscore_stream(stream: DataFrame, key_col: str = "user_id",
                  ts_col: str = "ts", val_col: str = "value",
                  window: int = 16, min_points: int = 8,
                  threshold: float = 3.0) -> DataFrame:
    """Streaming twin of the batch ``relational.trailing_zscore``:
    per-key anomaly scoring with a RING BUFFER of the last ``window``
    values in the state store — each arriving value is scored against
    the buffer BEFORE being appended (the same preceding-only,
    leakage-free frame as the batch operator), then pushed in and the
    buffer trimmed. State is ≤ ``window`` doubles per key regardless
    of stream volume.

    Emits one row per input event (update mode): (key, ts, value,
    zscore, is_anomaly) with zscore None until ``min_points`` history
    exists or while the trailing sample-std is 0. Same in-order-per-
    key-across-batches assumption as ``funnel_stages``; batch replays
    get the exact answer from the batch operator, and the agreement
    test keeps the two scorers aligned.
    """
    import math

    key_type = stream.schema[key_col].dataType
    ts_type = stream.schema[ts_col].dataType
    out_schema = T.StructType([
        T.StructField(key_col, key_type),
        T.StructField(ts_col, ts_type),
        T.StructField(val_col, T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
        T.StructField("is_anomaly", T.BooleanType()),
    ])

    # sample std divides by n−1: scoring needs ≥ 2 history points no
    # matter what the caller asks for (the batch twin's stddev_samp of
    # one value is NULL — degrade the same way, never ZeroDivisionError)
    min_points = max(min_points, 2)

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (kid,) = key
        (buf,) = state.get if state.exists else ([],)
        buf = list(buf)
        out: list[tuple] = []
        # Concatenate BEFORE sorting: a key whose micro-batch group
        # spans multiple Arrow chunks must be scored in global
        # event-time order, not chunk-local order — chunk boundaries
        # are a transport artifact, not a semantic one.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(ts_col)
        for ts, v in zip(pdf[ts_col], pdf[val_col]):
            v = float(v)
            z = None
            if len(buf) >= min_points:
                m = sum(buf) / len(buf)
                var = sum((x - m) ** 2 for x in buf) / (len(buf) - 1)
                sd = math.sqrt(var)
                if sd > 0:
                    z = round((v - m) / sd, 4)
            out.append((kid, ts, v, z,
                        z is not None and abs(z) > threshold))
            buf.append(v)
            if len(buf) > window:
                buf = buf[-window:]
        state.update((buf,))
        yield pd.DataFrame(
            out, columns=[key_col, ts_col, val_col, "zscore",
                          "is_anomaly"])

    return (
        stream.select(key_col, ts_col, val_col)
        .filter(F.col(key_col).isNotNull() & F.col(val_col).isNotNull())
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_ZSCORE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def score_bin_counts(df: DataFrame, value_col: str = "quality",
                     n_bins: int = 10) -> DataFrame:
    """Fixed-width bin counts of a [0, 1] score column — the shared
    histogram primitive of the batch PSI query (plans/catalog.py
    q_psi_drift) and the streaming drift monitor below. One map-side-
    combined aggregate to <= n_bins rows."""
    b = F.least(F.floor(F.col(value_col) * n_bins).cast("int"),
                F.lit(n_bins - 1))
    return df.filter(F.col(value_col).isNotNull()) \
        .groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("n"))


def drift_monitor(spark, counts_path: str, value_col: str = "quality",
                  n_bins: int = 10):
    """Streaming distribution-drift maintenance: a foreachBatch
    callable keeping the CURRENT score histogram parquet up to date
    under an append-only stream — the streaming face of the batch
    psi_drift query. Each micro-batch folds only its own rows into a
    <= n_bins-row delta and merges it with the stored counts under the
    advisory table lock; the stream is never rescanned, so maintenance
    is O(|batch|) at any history size. Bin counts are exact integers
    and merge is associative, so the maintained histogram after N
    batches equals the one-shot batch histogram of everything streamed
    (the agreement the test pins); psi_vs_baseline then prices the
    drift whenever the monitor asks.

    Usage::

        stream.writeStream.foreachBatch(
            drift_monitor(spark, counts_path, "quality"))
    """
    from twitter_to_sqlite_spark.operators import sinks

    def on_batch(batch_df, batch_id: int) -> None:
        delta = score_bin_counts(batch_df, value_col, n_bins)
        sinks.rewrite(spark, counts_path, lambda stored: (
            delta if stored is None else stored.unionByName(delta)
            .groupBy("bin").agg(F.sum("n").alias("n"))))

    return on_batch


def psi_vs_baseline(spark, counts_path: str, baseline_path: str,
                    n_bins: int = 10) -> float:
    """Population stability index of the maintained current histogram
    against a stored baseline histogram (both <= n_bins rows — the
    collects are bounded by construction, independent of stream
    length). Same Laplace smoothing and bin-ordered summation as the
    batch q_psi_drift oracle pair. Each table is read under its
    advisory lock — drift_monitor's commit momentarily unlinks the
    path between its two renames, so an unlocked read can race into
    PATH_NOT_FOUND mid-commit."""
    import math

    from twitter_to_sqlite_spark.operators import sinks

    def load(path):
        with sinks.table_lock(path):
            return {r["bin"]: r["n"]
                    for r in spark.read.parquet(path).collect()}

    cur, base = load(counts_path), load(baseline_path)
    tnc = sum(cur.values())
    tnb = sum(base.values())
    psi = 0.0
    for b in range(n_bins):
        pc = (cur.get(b, 0) + 1.0) / (tnc + n_bins)
        pb = (base.get(b, 0) + 1.0) / (tnb + n_bins)
        psi += (pc - pb) * math.log(pc / pb)
    return psi


def score_value_counts(df: DataFrame,
                       value_col: str = "quality") -> DataFrame:
    """Exact per-distinct-ROUNDED-score counts — the finer-grained
    sibling of :func:`score_bin_counts` that KS needs (the sup runs
    over the score domain, not fixed bins). Cardinality is bounded by
    the score's rounding (≤10⁴ rows for 4 decimals), so the table is
    as maintainable as the histogram: counts are exact integers and
    merge by addition."""
    return df.filter(F.col(value_col).isNotNull()) \
        .groupBy(F.col(value_col).alias("val")) \
        .agg(F.count(F.lit(1)).alias("n"))


def value_monitor(spark, counts_path: str, value_col: str = "quality"):
    """foreachBatch maintenance of the exact score-count table — the
    KS companion of :func:`drift_monitor` (same lock-merge-swap
    protocol, value-keyed instead of bin-keyed). N maintained batches
    equal the one-shot counts of everything streamed (agreement
    tested), so :func:`ks_vs_baseline` prices drift at any time
    without rescanning the stream."""
    from twitter_to_sqlite_spark.operators import sinks

    def on_batch(batch_df, batch_id: int) -> None:
        delta = score_value_counts(batch_df, value_col)
        sinks.rewrite(spark, counts_path, lambda stored: (
            delta if stored is None else stored.unionByName(delta)
            .groupBy("val").agg(F.sum("n").alias("n"))))

    return on_batch


def ks_vs_baseline(spark, counts_path: str, baseline_path: str) -> float:
    """Two-sample Kolmogorov-Smirnov statistic of the maintained
    score-count table against a stored baseline table — the streaming
    face of the batch ks_drift query: D = sup over the merged score
    domain of |F_current − F_baseline|. Both tables are bounded by
    score cardinality (collects bounded by construction); reads take
    each table's advisory lock because a monitor's commit momentarily
    unlinks the path between its renames."""
    from twitter_to_sqlite_spark.operators import sinks

    def load(path):
        with sinks.table_lock(path):
            return {r["val"]: r["n"]
                    for r in spark.read.parquet(path).collect()}

    cur, base = load(counts_path), load(baseline_path)
    tc = sum(cur.values())
    tb = sum(base.values())
    if tb == 0 or tc == 0:
        # An empty side has no CDF; D is undefined rather than 0
        # (a monitor fed only null-score batches should fail loudly,
        # not report "no drift").
        raise ValueError(
            "ks_vs_baseline: empty counts table "
            f"(baseline_total={tb}, current_total={tc})")
    cb = cc = 0
    d = 0.0
    for v in sorted(set(cur) | set(base)):
        cb += base.get(v, 0)
        cc += cur.get(v, 0)
        d = max(d, abs(cb / tb - cc / tc))
    return d


def maintain_rollup(spark, path: str, key_cols: list[str],
                    value_col: str):
    """Streaming materialized-view maintenance: a foreachBatch
    callable that keeps a per-key (n_rows, n_vals, v_sum DECIMAL)
    rollup parquet current under an append-only event stream —
    the streaming face of ``relational.weighted_delta_agg`` +
    ``merge_agg_delta``. Each micro-batch aggregates ONLY its own
    rows into a delta and merges it with the stored partials under
    the advisory table lock (``sinks.rewrite``, single-writer by
    construction); the base table is never rescanned, so maintenance
    cost per batch is O(|batch| + |touched groups|) at any table size.

    Because the merged sums are exact DECIMAL and merge is
    associative, the maintained rollup after N batches equals the
    one-shot batch aggregate of the concatenated stream — the
    agreement the test pins (and the same maintain≡recompute law the
    batch operator's hypothesis test proves).

    Usage::

        stream.writeStream.foreachBatch(
            maintain_rollup(spark, path, ["event_type"], "value"))
    """
    from twitter_to_sqlite_spark.operators import relational as R
    from twitter_to_sqlite_spark.operators import sinks

    def on_batch(batch_df, batch_id: int) -> None:
        delta = R.weighted_delta_agg(
            batch_df.withColumn("__w", F.lit(1)),
            key_cols, "__w", value_col)
        sinks.rewrite(spark, path, lambda stored: (
            delta.filter(F.col("n_rows") != 0) if stored is None
            else R.merge_agg_delta(stored, delta, key_cols)))

    return on_batch


def decay_monitor(spark, path: str, key_col: str = "user_id",
                  decay: float = 0.5):
    """foreachBatch maintenance of exponentially-decayed per-key
    counts — the trending / heavy-hitters-with-forgetting primitive:
    each micro-batch the stored table decays by ``decay`` and the
    batch's own counts are added (stored' = stored·λ + counts). Recent
    activity dominates, old keys fade instead of accumulating forever,
    and the table stays bounded by the live key set (rows decayed
    under ``prune_below`` = 2⁻²⁰ are dropped — the forgetting that
    makes the state finite on an unbounded key domain).

    With a DYADIC ``decay`` (the 0.5 default: multiplication by a
    power of two is exact in IEEE doubles) and integer batch counts,
    every maintained value is exactly representable, so N maintained
    batches equal the one-shot Σ_b counts_b · λ^(N−1−b) bit-for-bit —
    the same maintain ≡ recompute law as the rollup/drift monitors,
    here without even a rounding grain. Same lock/read-merge-swap
    protocol as maintain_rollup (single-writer by construction).
    """
    from twitter_to_sqlite_spark.operators import sinks

    prune_below = 2.0 ** -20

    def on_batch(batch_df, batch_id: int) -> None:
        delta = (batch_df.filter(F.col(key_col).isNotNull())
                 .groupBy(key_col)
                 .agg(F.count(F.lit(1)).cast("double").alias("decayed")))

        def merge(stored):
            if stored is None:
                return delta
            stored = stored.select(
                key_col, (F.col("decayed") * F.lit(float(decay)))
                .alias("decayed"))
            return (stored.unionByName(delta)
                    .groupBy(key_col)
                    .agg(F.sum("decayed").alias("decayed"))
                    .filter(F.col("decayed") >= prune_below))

        sinks.rewrite(spark, path, merge)

    return on_batch


def mad_from_counts(spark, counts_path: str, k: int = 3) -> dict:
    """Robust median/MAD readout of the MAINTAINED score-count table —
    the streaming face of stats.mad_outliers: value_monitor keeps the
    exact (val, n) table current batch-by-batch, and this prices
    median, MAD, and the beyond-k·MAD outlier count from it at any
    time without rescanning the stream (the same maintain-once /
    read-many contract as ks_vs_baseline, on the same store).

    All arithmetic runs at the v4 = round(val·10⁴) integer grain —
    medians are exact rank-⌈n/2⌉ domain values and the k·MAD compare
    is integer (k integral), so the result reproduces bit-for-bit in
    any engine reading the same counts. Raises on an empty table
    (same loudly-fail contract as ks_vs_baseline).

    Returns {"n", "median4", "mad4", "n_outliers"} (the *4 fields are
    v4-grain integers; divide by 10⁴ for display).
    """
    from twitter_to_sqlite_spark.operators import sinks

    with sinks.table_lock(counts_path):
        rows = spark.read.parquet(counts_path).collect()
    pairs = sorted((int(round(r["val"] * 10000)), int(r["n"]))
                   for r in rows)
    n = sum(c for _, c in pairs)
    if n == 0:
        raise ValueError(f"mad_from_counts: empty counts at {counts_path}")

    def rank_med(ps, tot):
        need = (tot + 1) // 2
        cum = 0
        for v, c in ps:
            cum += c
            if cum >= need:
                return v
        raise AssertionError("unreachable: counts sum to tot")

    med4 = rank_med(pairs, n)
    devs: dict[int, int] = {}
    for v, c in pairs:
        d = abs(v - med4)
        devs[d] = devs.get(d, 0) + c
    mad4 = rank_med(sorted(devs.items()), n)
    n_out = sum(c for d, c in devs.items() if d > k * mad4)
    return {"n": n, "median4": med4, "mad4": mad4, "n_outliers": n_out}
