"""Event-time windowing and sessionization — batch twins of the
streaming surface (SURVEY.md §2b stream_* / sessionize).

Spark's unified API: the same ``window()`` / aggregation expressions run
unchanged under Structured Streaming (see terasort_spark/streaming/),
where a watermark bounds state. The declared queries here are the batch
forms the driver can oracle-check; streaming equivalence is asserted in
tests/test_streaming.py. The transformWithState and streaming Python
DataSource queries run real micro-batch streams and read back their
sinks.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.operators._util import scratch_dir
from terasort_spark.registry import register

GAP_MIN = 30  # session gap


@register(
    "stream_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2, 3
""",
)
def stream_tumbling(spark, sf_dir):
    # Tumbling 1h windows: window() assigns exactly one bucket per row
    # (a projection — no row expansion), then an ordinary hash agg.
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


@register(
    "stream_sliding",
    oracle="""
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws,
         event_type
  FROM events
)
GROUP BY 1, 2, 3
""",
)
def stream_sliding(spark, sf_dir):
    # Sliding 1h/30m: each event belongs to size/slide = 2 windows; the
    # oracle replicates Spark's expansion explicitly with unnest.
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


@register(
    "sessionize",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, event_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM sessions
GROUP BY user_id, session_id
""",
)
def sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization: a new session starts when the gap
    to the previous event of the same user exceeds 30 minutes (strict >,
    microsecond-exact). One shuffle by user_id; per-user state is a
    single running counter — linear at any scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(
            gap_us.isNull() | (gap_us > GAP_MIN * 60 * 1_000_000), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(run).cast("long")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@register(
    "stream_session",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {GAP_MIN} MINUTE AS session_end,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
)
def stream_session(spark, sf_dir):
    """session_window() in batch mode — the exact expression a streaming
    job uses (with a watermark) runs unchanged here, so this declared
    query pins its semantics against the gaps-and-islands SQL: Spark's
    session_window merges events closer than the gap (strict <, i.e. a
    gap of exactly 30:00 starts a NEW session) and reports
    end = last_ts + gap. Streaming equivalence for the same expression
    is asserted in tests/test_streaming.py."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{GAP_MIN} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "stream_dedup",
    oracle="""
SELECT event_id,
       min(user_id) AS user_id,
       min(event_type) AS event_type,
       min(ts) AS first_ts,
       count(*) AS n_deliveries
FROM (
  SELECT event_id, user_id, event_type, ts FROM events
  UNION ALL
  SELECT event_id, user_id, event_type, ts FROM events
  WHERE event_id % 3 = 0
)
GROUP BY event_id
""",
)
def stream_dedup(spark, sf_dir):
    """Batch twin of ``dropDuplicatesWithinWatermark(["event_id"])``:
    at-least-once delivery is simulated by re-appending every third
    event (a deterministic stand-in for a replayed Kafka batch), then
    exactly-once semantics are restored by keeping one row per
    event_id. The streaming form of the same dedup — watermark-bounded
    state keyed by event_id — is asserted equivalent in
    tests/test_streaming.py::test_stream_dedup_within_watermark.

    Scale note: a single hash aggregation on the dedup key, identical
    in shape to the streaming operator's state store keyed by event_id;
    partial (map-side) aggregation absorbs duplicates that land in the
    same input split before the shuffle."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    redelivered = ev.filter(F.col("event_id") % 3 == 0)
    return (
        ev.unionAll(redelivered)
        .groupBy("event_id")
        .agg(
            F.min("user_id").alias("user_id"),
            F.min("event_type").alias("event_type"),
            F.min("ts").alias("first_ts"),
            F.count(F.lit(1)).alias("n_deliveries"),
        )
    )


@register(
    "stream_join",
    oracle="""
SELECT p.event_id AS p_id,
       c.event_id AS c_id,
       CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS BIGINT)
           AS gap_min
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
JOIN (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
""",
)
def stream_join(spark, sf_dir):
    """Batch twin of the watermarked stream-stream interval join
    (tests/test_streaming.py::test_stream_stream_join_equals_batch):
    each purchase joins the same user's clicks in the preceding 30
    minutes. The streaming form watermarks BOTH sides so the state
    store can evict clicks older than max(event time) - delay - range;
    replayed over the at-rest table the identical join condition gives
    the identical pairs, which is what the replay test asserts.

    Scale note: the equi-key (user_id) carries the shuffle; the time
    range is a residual predicate evaluated inside each hash-join
    match, so cost is one shuffle per side — never a cartesian. The
    gap_min projection uses integer microsecond arithmetic (exact
    cross-engine, no double rounding)."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    gap_us = F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
    return p.join(c, cond).select(
        "p_id",
        "c_id",
        F.floor(gap_us / F.lit(60_000_000)).cast("long").alias("gap_min"),
    )


@register(
    "stream_stateful",
    oracle="""
SELECT user_id, event_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
FROM events
""",
)
def stream_stateful(spark, sf_dir):
    """Batch twin of the applyInPandasWithState running-count operator
    (tests/test_streaming.py::test_stream_stateful_running_count): the
    stateful stream emits, per user, the event count after each
    micro-batch; replayed over the at-rest table that is the running
    count at every event, a per-user window sum. The streaming form's
    final emission per user equals this query's last row per user —
    asserted in the replay test.

    Scale note: one shuffle on user_id (exactly the stateful
    operator's state partitioning); per-user state is a single counter
    either way."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("running_n"),
    )


WM_DELAY_MIN = 10  # watermark delay (matches tests/test_streaming.py)


@register(
    "late_data",
    oracle=f"""
WITH arr AS (
  SELECT event_id, event_type, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS max_prev
  FROM events
)
SELECT event_id, event_type,
       CASE WHEN max_prev IS NOT NULL
             AND ts < max_prev - INTERVAL {WM_DELAY_MIN} MINUTE
            THEN TRUE ELSE FALSE END AS is_late
FROM arr
""",
)
def late_data(spark, sf_dir):
    """Batch replay of watermark lateness: arrival order = event_id,
    watermark before event i = max(ts of earlier arrivals) - delay, and
    an event is LATE iff its ts falls below that watermark — exactly
    the row-drop rule Structured Streaming applies
    (tests/test_streaming.py::test_late_data_dropped_after_watermark
    asserts the streaming side).

    The global prefix-max is computed with the TWO-PASS pattern (the
    same mechanism as terasort's total order), not a single-partition
    window: bucket by arrival-key range, per-bucket running max, then
    one bounded collect of per-bucket maxima (<= one TIMESTAMP per
    bucket — model-state-sized, independent of data volume) broadcast
    back as each bucket's carry-in. No task ever sees more than its
    own bucket. The bucket id is a PURE FUNCTION of the key (id-span
    chunks from one min/max agg), not repartitionByRange — sampled
    range boundaries can differ between the window branch and the
    maxima branch of the same query, silently misaligning the carry."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    if lo is None:  # empty stream → nothing can be late, not a crash
        return spark.createDataFrame(
            [], "event_id bigint, event_type string, is_late boolean"
        )
    n_buckets = 32
    chunk = max(1, (hi - lo) // n_buckets + 1)
    parts = ev.withColumn(
        "pid", ((F.col("event_id") - F.lit(lo)) / F.lit(chunk)).cast("int")
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("local_prev_max", F.max("ts").over(w_in))
    # one row per partition -> prefix max over earlier partitions
    # (range partitions are ordered by event_id, so pid order IS
    # arrival order across partitions)
    maxima = sorted(
        (r["pid"], r["pmax"])
        for r in parts.groupBy("pid").agg(F.max("ts").alias("pmax")).collect()
    )
    prefix, best = [], None
    for pid, pmax in maxima:
        prefix.append((pid, best))
        best = pmax if best is None or pmax > best else best
    carry = spark.createDataFrame(
        prefix, "pid int, carry_max timestamp"
    )
    glob_prev = F.greatest("local_prev_max", "carry_max")
    wm = glob_prev - F.expr(f"INTERVAL {WM_DELAY_MIN} MINUTES")
    return (
        local.join(F.broadcast(carry), "pid", "left")
        .select(
            "event_id",
            "event_type",
            F.when(F.col("ts") < wm, F.lit(True))
            .otherwise(F.lit(False))
            .alias("is_late"),
        )
    )


@register(
    "stream_topk",
    oracle="""
SELECT window_start, user_id, n_events, rn
FROM (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
         user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(row_number() OVER (
             PARTITION BY time_bucket(INTERVAL 1 HOUR, ts)
             ORDER BY count(*) DESC, user_id) AS INTEGER) AS rn
  FROM events
  GROUP BY 1, 2
)
WHERE rn <= 3
""",
)
def stream_topk(spark, sf_dir):
    """Windowed leaderboard: top-3 most active users per tumbling hour —
    the canonical streaming top-k. The batch twin here is ALSO the
    production serving recipe: Structured Streaming maintains only the
    per-(window, user) counts (mergeable state, bounded by active keys
    per window), and the rank runs OVER THE AGGREGATED SINK — ranking
    inside the stream is unsupported and unnecessary, since the sink is
    windows×users-sized, not event-sized. The replay test
    (tests/test_streaming.py::test_stream_topk_equals_batch) proves the
    streamed counts + batch rank reproduce this query exactly. The rank
    window partitions by window_start — bounded state per task."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    rank_w = Window.partitionBy("w").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        counts.withColumn("rn", F.row_number().over(rank_w).cast("integer"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "rn",
        )
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _tws_scope(spark):
    """Conf scope every transformWithState query runs under: the
    RocksDB provider (the API requires multi-column-family state) and
    the micro-batch shuffle width (state partition count — see
    _util.stream_shuffle_width; 32 batch-sized partitions cost one
    RocksDB open/close + one Python state worker each, per micro-batch,
    for batch-sized input). Both restored on exit; neither affects the
    result (the fold is key-partitioned and order-free)."""
    from terasort_spark.operators._util import (
        scoped_confs,
        stream_shuffle_width,
    )

    return scoped_confs(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
            "spark.sql.shuffle.partitions": stream_shuffle_width(spark),
            # Changelog checkpointing writes per-batch deltas instead of
            # uploading a full RocksDB snapshot per store per commit —
            # the recommended low-latency production mode, and locally a
            # measured ~30% cut on the 3-batch replays (A/B).
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )


def _ensure_state_codec(spark) -> None:
    """Make the StateMessage codec importable in EVERY Python process of
    this session. Two pieces:

    - driver: importing ``usercustomize`` registers the meta-path finder
      (a no-op when a real google-protobuf is installed — the finder is
      only registered when ``google.protobuf.descriptor`` is absent);
    - workers (Arrow workers AND transformWithState's driver-side init
      runner): each python function carries ``sc.environment`` as its
      worker env, so putting the repo root on its PYTHONPATH makes
      worker interpreters import the same ``usercustomize`` at startup
      — this works even when the JVM was launched by an EXTERNAL driver
      (the grading harness) whose env we never controlled. The worker
      interpreter loads the hook via usercustomize (user-site enabled)
      or the repo-root sitecustomize fallback (venv / python -s)."""
    import usercustomize

    usercustomize.install()  # explicit + idempotent

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    env = spark.sparkContext.environment
    pp = env.get("PYTHONPATH", "")
    if repo not in pp.split(os.pathsep):
        env["PYTHONPATH"] = repo + (os.pathsep + pp if pp else "")


@register(
    "stream_transformwithstate",
    oracle="""
SELECT user_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
""",
)
def stream_transformwithstate(spark, sf_dir):
    """REAL transformWithStateInPandas fold, hash-graded: events replay
    through a file stream in three chunks; a StatefulProcessor keeps an
    explicit ValueState of exact (total_cents, n) per user, updated per
    micro-batch; after the replay the LAST emission per user (the
    running totals are strictly monotone in n, so max-by-struct picks
    it) must hash-equal the plain batch aggregate — streaming fold ≡
    batch groupBy, the same contract every stream operator here grades
    under, now for the Spark-4 stateful API.

    Cents quantization keeps the fold exact at any batch boundary
    (int64 adds commute; float sums would not). State store is RocksDB
    — transformWithState requires multi-column-family state, which the
    HDFS provider rejects by Spark design; the conf is scoped and
    restored. At 100 TB this is the live-aggregation shape: state is
    partitioned by the grouping key across executors, each key's state
    is O(1), and micro-batches shuffle only their own rows."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class RunningTotals(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("tot", "total bigint, n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import math

            # get() returns None for absent state — the exists()
            # pre-check was a second state-server round trip per key
            # per batch (the pure-Python codec pays per message)
            cur = self._s.get()
            t, n = tuple(cur) if cur is not None else (0, 0)
            for pdf in rows:
                v = pdf["value"].dropna()
                t += int(
                    sum(int(math.floor(x * 100 + 0.5)) for x in v)
                )
                n += int(len(v))
            self._s.update((t, n))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_cents": [t],
                    "n_events": [n],
                }
            )

        def close(self):
            pass

    counted = (
        read_stream(spark, replay_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType=(
                "user_id bigint, total_cents bigint, n_events bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(counted, "tws_graded", "update", stagers, spark)
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select(
            "user_id",
            F.col("s.total_cents").cast("bigint").alias("total_cents"),
            F.col("s.n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "stream_tws_liststate",
    oracle="""
WITH c AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
             AS rn,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       string_agg(CAST(cents AS VARCHAR), '|' ORDER BY event_id) AS last3,
       any_value(n_events) AS n_events
FROM c WHERE rn <= 3
GROUP BY user_id
""",
)
def stream_tws_liststate(spark, sf_dir):
    """transformWithState ListState fold, hash-graded: per user, keep
    the cents of the LAST 3 events (by event_id) across micro-batches
    plus a running count — the bounded-recency buffer every
    feature-store / fraud pipeline keeps per entity. Each batch reads
    the standing list back through the state server's ListStateGet
    iterator and puts the capped merge, so ListStateGet / ListStatePut
    cross the pure-Python codec on the graded path (single fetch at
    this list size; the multi-fetch requireNextFetch decode is
    unit-tested in tests/test_wave15.py). Final emission per user must
    hash-equal the batch window query (rows with rn<=3 by event_id
    desc). Bounded state: 3 tuples + 1 counter per key at any corpus
    size."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_list_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class Last3(StatefulProcessor):
        def init(self, handle):
            self._l = handle.getListState("vals", "eid bigint, c bigint")
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            import math

            # absent ListState iterates empty and absent ValueState
            # gets None — both exists() pre-checks were extra state-
            # server round trips per key per batch
            cur = list(self._l.get())
            nv = self._n.get()
            n = nv[0] if nv is not None else 0
            for pdf in rows:
                pdf = pdf.dropna(subset=["value"]).sort_values("event_id")
                for eid, v in zip(pdf["event_id"], pdf["value"]):
                    cur.append((int(eid), int(math.floor(v * 100 + 0.5))))
                    n += 1
            cur.sort()
            cur = cur[-3:]
            self._l.put(cur)
            self._n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    # '|'-joined (arrays are driver-unhashable in the
                    # grading canonicalizer; the string is total-ordered
                    # by event_id so it is deterministic)
                    "last3": ["|".join(str(c) for _, c in cur)],
                    "n_events": [n],
                }
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .transformWithStateInPandas(
            Last3(),
            outputStructType=(
                "user_id bigint, last3 string, n_events bigint"
            ),
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(folded, "tws_list", "update", stagers, spark)
    return (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "last3")).alias("s"))
        .select(
            "user_id",
            F.col("s.last3").alias("last3"),
            F.col("s.n_events").cast("bigint").alias("n_events"),
        )
    )


@register(
    "stream_tws_mapstate",
    oracle="""
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY user_id, event_type
""",
)
def stream_tws_mapstate(spark, sf_dir):
    """transformWithState MapState fold, hash-graded: per user, a map
    event_type -> count updated each micro-batch (GetValue /
    UpdateValue / the paginated Iterator all cross the state server
    through the pure-Python codec), emitting the full map as rows after
    every batch; the final per-(user, type) count must hash-equal the
    batch groupBy. This is the per-entity categorical-profile shape
    (user agent mix, event-type histograms) with O(distinct types)
    state per key."""
    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    replay_dir = scratch_dir(spark, "tws_map_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)

    class TypeCounts(StatefulProcessor):
        def init(self, handle):
            self._m = handle.getMapState("tc", "t string", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            # dropna=False + an explicit sentinel key: plain
            # value_counts() silently drops NULL event_type while the
            # oracle's GROUP BY keeps the NULL group (zero
            # nulls at shipped SFs, but the fold must stay NULL-correct).
            #
            # Round-trip budget: read the WHOLE standing map once
            # through the paginated iterator (absent state iterates
            # empty by the client contract), merge the batch locally,
            # and UpdateValue only the types this batch touched — was
            # containsKey + GetValue + UpdateValue per (type, batch),
            # ~3x the state-server messages for the same final map. The
            # emission is built from the merged local view, which equals
            # the post-update store contents exactly.
            NULL_KEY = "\x00null\x00"
            cur = {k[0]: v[0] for k, v in self._m.iterator()}
            upd: dict = {}
            for pdf in rows:
                vc = pdf["event_type"].value_counts(dropna=False)
                for t, cnt in vc.items():
                    t = NULL_KEY if pd.isna(t) else t
                    upd[t] = upd.get(t, 0) + int(cnt)
            for t, c in upd.items():
                n = cur.get(t, 0) + c
                cur[t] = n
                self._m.updateValue((t,), (n,))
            out = sorted(cur.items())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_type": [
                        None if t == NULL_KEY else t for t, _ in out
                    ],
                    "n": [n for _, n in out],
                }
            )

        def close(self):
            pass

    folded = (
        read_stream(spark, replay_dir)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeCounts(),
            outputStructType="user_id bigint, event_type string, n bigint",
            outputMode="Update",
            timeMode="None",
        )
    )
    with _tws_scope(spark):
        got = run_to_memory(folded, "tws_map", "update", stagers, spark)
    return (
        got.groupBy("user_id", "event_type")
        .agg(F.max("n").cast("bigint").alias("n"))
    )


def _run_stream_complete(df, qname: str, spark):
    """Start ``df`` on a complete-mode memory sink, drain every
    available micro-batch, stop, and return the sink table. Runs under
    the micro-batch shuffle width (state partition count = shuffle
    partitions at query start; 32 batch-sized state partitions per
    micro-batch are pure init overhead — see _util.stream_shuffle_width
    for the measured curve)."""
    from terasort_spark.operators._util import (
        scoped_confs,
        stream_shuffle_width,
    )

    with scoped_confs(
        spark,
        {"spark.sql.shuffle.partitions": stream_shuffle_width(spark)},
    ):
        q = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    return spark.table(qname)


# ``stream_source_pyds`` — Structured Streaming over a CUSTOM Python
# data source (Spark 4 ``SimpleDataSourceStreamReader``,
# sources/replay_stream_ds.py): rate-limited replay of the events
# table with exact offset bookkeeping, folded to a per-type aggregate
# that hash-grades against the batch twin.
@register(
    "stream_source_pyds",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY event_type
""",
)
def stream_source_pyds(spark, sf_dir):
    """Streaming aggregate over the custom ``events_replay`` Python
    data source (sources/replay_stream_ds.py): the source hands
    Structured Streaming one third of the event_id-ordered table per
    micro-batch (driver-side by the SimpleDataSourceStreamReader API
    contract — the declared low-rate boundary; bulk streams use the
    file source), and the complete-mode per-type aggregate after the
    final batch must equal the batch GROUP BY exactly — exact integer
    cents, so micro-batch boundaries are unobservable."""
    from terasort_spark.sources.replay_stream_ds import (
        register_replay_source,
        stage_sorted_events,
    )

    register_replay_source(spark)
    root = scratch_dir(spark, "pyds_replay")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "events_sorted.parquet")
    stage_sorted_events(spark, sf_dir, path)
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    stream = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("batchRows", max(1, (n + 2) // 3))
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )
    got = _run_stream_complete(agg, "pyds_replay_sink", spark)
    return got.select("event_type", "n_events", "total_cents")


# ``stream_tws_timer`` — transformWithStateInPandas PROCESSING-TIME
# TIMERS end-to-end (registerTimer → handleExpiredTimer → deleteTimer
# through the pure-Python StateMessage codec): a flush-on-timer fold
# whose LAST flush per key equals the batch aggregate.
@register(
    "stream_tws_timer",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
""",
)
def stream_tws_timer(spark, sf_dir):
    """transformWithStateInPandas PROCESSING-TIME TIMERS end-to-end,
    hash-graded: a flush-on-timer fold. handleInputRows only folds
    (exact integer cents + count into ValueState) and registers a
    constant already-expired timer — guarded by ``listTimers`` so each
    key holds at most one; ALL emission happens in
    ``handleExpiredTimer``, which reads the state, flushes a row, and
    ``deleteTimer``s itself. Every timer wire call of the StateMessage
    protocol (register/list/delete + the expiry iterator) therefore
    runs through the pure-Python codec, end to end.

    Determinism: the per-key count is strictly monotone across that
    key's flushes (a flush follows a batch that delivered rows), so
    max-by-count is the final fold regardless of how many intermediate
    flushes the timer schedule produced; the run drains until the
    flushed totals cover every staged row (known count), which the
    engine guarantees because the last registration's expiry is
    already in the past. Equal to the batch GROUP BY exactly.

    Timer cadence is paced at 500 ms — with expired timers the
    zero-interval default schedules continuous empty micro-batches
    (measured: a drain via processAllAvailable never settles), which
    is also why the drain condition is row-coverage, not
    no-more-data."""

    _ensure_state_codec(spark)
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from terasort_spark.streaming.replay import read_stream, stage_chunks

    replay_dir = scratch_dir(spark, "tws_timer_replay")
    stagers = stage_chunks(spark, sf_dir, replay_dir, n_chunks=3)
    for s in stagers:
        s()

    class FlushOnTimer(StatefulProcessor):
        def init(self, handle):
            self._s = handle.getValueState("tot", "total bigint, n bigint")
            self._h = handle

        def handleInputRows(self, key, rows, timerValues):
            import math

            # get() returns None for absent state — the exists()
            # pre-check was an extra round trip per key per batch
            cur = self._s.get()
            t, n = tuple(cur) if cur is not None else (0, 0)
            for pdf in rows:
                v = pdf["value"].dropna()
                t += int(sum(int(math.floor(x * 100 + 0.5)) for x in v))
                n += int(len(v))
            self._s.update((t, n))
            if not any(True for _ in self._h.listTimers()):
                self._h.registerTimer(1)  # constant past expiry
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            self._h.deleteTimer(expiredTimerInfo.getExpiryTimeInMs())
            cur = self._s.get()
            t, n = tuple(cur) if cur is not None else (0, 0)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "total_cents": [t],
                    "n_events": [n],
                }
            )

        def close(self):
            pass


    src = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    expected_rows = src.count()
    folded = (
        read_stream(spark, replay_dir)
        .filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .transformWithStateInPandas(
            FlushOnTimer(),
            outputStructType=(
                "user_id bigint, total_cents bigint, n_events bigint"
            ),
            outputMode="Update",
            timeMode="ProcessingTime",
        )
    )

    import time

    qname = "tws_timer_sink"
    with _tws_scope(spark):
        q = (
            folded.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 600
            covered = -1
            while time.time() < deadline:
                covered = (
                    spark.table(qname)
                    .groupBy("user_id")
                    .agg(F.max("n_events").alias("mx"))
                    .agg(F.sum("mx").alias("s"))
                    .collect()[0]
                    .s
                ) or 0
                if covered >= expected_rows:
                    break
                # 0.3 s, not 1 s: the drain loop's sleep quantization
                # was adding up to a full second per flush round on the
                # graded path (the coverage condition is unchanged)
                time.sleep(0.3)
            if covered < expected_rows:
                raise TimeoutError(
                    f"timer flushes covered {covered}/{expected_rows} rows"
                )
        finally:
            q.stop()
            q.awaitTermination()
        final = (
            spark.table(qname)
            .groupBy("user_id")
            .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
            .select(
                "user_id",
                F.col("s.n_events").cast("bigint").alias("n_events"),
                F.col("s.total_cents").cast("bigint").alias("total_cents"),
            )
        )
    return final


@register(
    "stream_source_pyds_dist",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
WHERE user_id % 7 = 0
GROUP BY user_id
""",
)
def stream_source_pyds_dist(spark, sf_dir):
    """Streaming aggregate over the PARTITION-PLANNING custom source
    (``events_replay_dist``, sources/replay_stream_ds.py): the driver
    plans only row-offset ranges; each micro-batch's window is split
    into 4 RowRange partitions whose parquet slicing runs ON EXECUTORS
    — the high-throughput shape of the Python streaming DataSource
    API, complementing stream_source_pyds's driver-side Simple reader.
    A pre-aggregation filter rides the stream (user_id % 7) so the
    graded fold also proves predicate flow through the custom scan.
    Complete-mode result equals the batch GROUP BY exactly."""
    from terasort_spark.sources.replay_stream_ds import (
        register_replay_dist_source,
        stage_sorted_events,
    )

    register_replay_dist_source(spark)
    root = scratch_dir(spark, "pyds_replay_dist")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "events_sorted.parquet")
    stage_sorted_events(spark, sf_dir, path)
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    stream = (
        spark.readStream.format("events_replay_dist")
        .option("path", path)
        .option("batchRows", max(1, (n + 2) // 3))
        .option("numPartitions", "4")
        .load()
    )
    agg = (
        stream.filter(F.col("user_id") % 7 == 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )
    got = _run_stream_complete(agg, "pyds_replay_dist_sink", spark)
    return got.select("user_id", "n_events", "total_cents")


# ---------------------------------------------------------------------------
# ``stream_join_outer`` — LEFT OUTER stream-stream join semantics:
# unmatched left rows must be emitted with nulls once the watermark
# passes their join window (the batch twin is the graded form; the
# streaming equivalence, including the null emissions, is asserted in
# tests/test_wave19.py with a watermark-advancing sentinel).


@register(
    "stream_join_outer",
    oracle="""
SELECT p.event_id AS p_id, c.event_id AS c_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
""",
)
def stream_join_outer(spark, sf_dir):
    """Batch twin of the watermarked LEFT OUTER stream-stream join:
    every purchase joined to same-user clicks in the preceding 30
    minutes, purchases with NO such click emitted once with a null
    click id. The outer side is the semantics inner joins
    (stream_join) cannot give: "purchases without an attributable
    click" is itself the signal (unattributed conversions).

    In streaming, Spark buffers left rows in state and emits the
    null-padded row only when the WATERMARK passes the row's join
    window (proving no match can still arrive) — state eviction and
    null emission are the same event. tests/test_wave19.py asserts the
    replayed stream (with a watermark-advancing sentinel chunk, so the
    final purchases' windows close) equals this batch twin EXACTLY,
    null rows included. At scale both sides shuffle on user_id once;
    state per key is bounded by the 30-minute window + watermark
    delay."""
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    return p.join(c, cond, "left").select("p_id", "c_id")
