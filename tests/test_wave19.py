"""Round-12 wave (session 2, batch 3): MaxSim, AMS F2, outer
stream-stream join, decay counters, keep-best dedup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from terasort_spark.catalog import table
from terasort_spark.registry import queries

_Q = queries()


# ---------------------------------------------------------------------------
# sim_maxsim


def test_maxsim_scores_bounded_by_token_count(spark, sf_dir):
    from terasort_spark.operators.llm_similarity import _MS_NQ, _MS_TOK, _MS_TOPK

    rows = _Q["sim_maxsim"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert -_MS_TOK <= r["maxsim"] <= _MS_TOK  # sum of 8 cosines
        assert r["c_id"] >= _MS_NQ  # queries never retrieve queries
        by_q.setdefault(r["q_id"], []).append(r["rn"])
    for q_id, rns in by_q.items():
        assert sorted(rns) == list(range(1, _MS_TOPK + 1)), q_id


# ---------------------------------------------------------------------------
# agg_ams_f2


def test_ams_f2_exact_and_estimate_sane(spark, sf_dir):
    row = _Q["agg_ams_f2"](spark, sf_dir).collect()[0]
    n = table(spark, sf_dir, "events").count()
    # sum f^2 >= sum f = n, with equality iff all keys distinct
    assert row["f2_exact"] >= n
    assert row["f2_est"] > 0
    # k=16 estimators: the estimate should be the right order of
    # magnitude (AMS relative error ~ 1/sqrt(k) in expectation; allow
    # a wide deterministic band — the exact value is hash-pinned by
    # the oracle, this is a sanity rail)
    assert row["f2_exact"] / 10 <= row["f2_est"] <= row["f2_exact"] * 10


# ---------------------------------------------------------------------------
# stream_join_outer


def test_stream_left_outer_join_equals_batch(spark, sf_dir, tmp_path, state_store):
    """The streaming LEFT OUTER join, replayed with a watermark-
    advancing sentinel chunk, must equal the batch twin EXACTLY —
    including the null-padded rows for unmatched purchases (emitted
    when the watermark closes each purchase's join window)."""
    from terasort_spark.streaming.replay import (
        EVENTS_SCHEMA,
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    import os

    ev = table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    replay_dir = str(tmp_path / "outer_replay")
    stagers = stage_chunks(
        spark, sf_dir, replay_dir, n_chunks=3, order_by=("ts", "event_id")
    )

    # Two successive far-future sentinel waves: the first advances the
    # watermark past every real purchase's join window; the SECOND
    # gives the engine a DATA batch at that advanced watermark, in
    # which the null-padded unmatched rows actually emit (a trailing
    # no-data batch is not guaranteed to run before
    # processAllAvailable returns). Each wave carries one purchase
    # (user -1) and one click (user -2) so BOTH branches' watermarks
    # advance — the watermark must sit AFTER each branch's
    # filter/rename (the suite's inner-join pattern): placed before
    # the branch point, the file source stops discovering post-start
    # files entirely (observed empirically — batches run with
    # numInputRows=0 forever). Sentinel users never match anything;
    # their own unmatched rows are stripped by id before comparing.
    def sentinel_stager(hours, name):
        sdir = str(tmp_path / f"_sent_{name}")
        (
            spark.createDataFrame(
                [
                    (10**12, max_ts, -1, "purchase", 0.0, "{}"),
                    (10**12 + 1, max_ts, -2, "click", 0.0, "{}"),
                ],
                EVENTS_SCHEMA,
            )
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {hours} HOURS"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sdir)
        )
        part = next(
            f for f in sorted(os.listdir(sdir)) if f.endswith(".parquet")
        )

        def stage():
            os.rename(
                os.path.join(sdir, part),
                os.path.join(replay_dir, f"sentinel_{name}.parquet"),
            )

        return stage

    stagers = stagers + [
        sentinel_stager(10, "a"),
        sentinel_stager(20, "b"),
    ]
    src = read_stream(spark, replay_dir)
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    joined = purchases.join(clicks, cond, "leftOuter").select("p_id", "c_id")
    got = sorted(
        t
        for t in map(
            tuple,
            run_to_memory(
                joined, "outer_join_sink", "append", stagers, spark
            ).collect(),
        )
        if t[0] < 10**12  # strip the sentinels' own unmatched rows
    )
    want = sorted(map(tuple, _Q["stream_join_outer"](spark, sf_dir).collect()))
    assert got == want
    assert any(c is None for _, c in want), "outer semantics unexercised"


# ---------------------------------------------------------------------------
# agg_decay_counter


def test_decay_counter_matches_reference_for_one_user(spark, sf_dir):
    from terasort_spark.operators.aggregates import (
        _DECAY_HALFLIFE_DAYS,
        _DECAY_MAX_STEPS,
        _DECAY_SCALE,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"), "value"
    )
    rows = ev.collect()
    t0 = max(r["d"] for r in rows)
    uid = min(r["user_id"] for r in rows)
    want = 0
    for r in rows:
        if r["user_id"] != uid:
            continue
        cents = math.floor(r["value"] * 100 + 0.5)
        steps = min((t0 - r["d"]).days // _DECAY_HALFLIFE_DAYS, _DECAY_MAX_STEPS)
        want += cents * (_DECAY_SCALE >> steps)
    got = {
        r["user_id"]: r["decayed_units"]
        for r in _Q["agg_decay_counter"](spark, sf_dir).collect()
    }
    assert got[uid] == want


# ---------------------------------------------------------------------------
# dedup_cluster_keepbest


def test_keepbest_one_keeper_per_cluster_and_longest(spark, sf_dir):
    rows = _Q["dedup_cluster_keepbest"](spark, sf_dir).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
        .collect()
    }
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1, cid
        best = max(chars[r["doc_id"]] for r in members)
        assert chars[keepers[0]["doc_id"]] == best
